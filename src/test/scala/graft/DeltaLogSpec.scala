package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sources.{DeltaLog, TxLog}

/** Delta protocol interop: every TxLog commit must be mirrored as a
  * spec-conformant `_delta_log` commit file, and the engine must be able to
  * read back a table through that log alone — including one an "external"
  * Delta writer authored (no `_txlog` present at all).
  */
class DeltaLogSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def freshTable(): String =
    Files.createTempDirectory("graft_delta_spec").toString

  private def events = Tables.events(spark, "/root/testdata/sf0.001")

  private def actions(table: String, v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] =
    Files.readAllLines(Paths.get(table, "_delta_log", f"$v%020d.json"))
      .asScala.toSeq.filter(_.trim.nonEmpty).map(mapper.readTree)

  test("commit 0 carries protocol + metaData actions per the Delta spec") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)

    val a0 = actions(t, 0L)
    val protocol = a0.flatMap(n => Option(n.get("protocol")))
    assert(protocol.size == 1)
    assert(protocol.head.get("minReaderVersion").asInt() == 1)
    assert(protocol.head.get("minWriterVersion").asInt() == 2)

    val meta = a0.flatMap(n => Option(n.get("metaData")))
    assert(meta.size == 1)
    val m = meta.head
    assert(m.get("format").get("provider").asText() == "parquet")
    assert(m.get("partitionColumns").isArray && m.get("partitionColumns").size() == 0)
    assert(m.get("id").asText().nonEmpty)
    // schemaString must round-trip through Spark's own schema JSON codec
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.get("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == events.schema.fieldNames.toSeq)
  }

  test("add actions carry path/size/modificationTime/dataChange for real files") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    val adds = actions(t, 0L).flatMap(n => Option(n.get("add")))
    assert(adds.nonEmpty)
    adds.foreach { a =>
      val p = Paths.get(t).resolve(a.get("path").asText())
      assert(Files.exists(p), s"add.path must point at a real data file: $p")
      assert(a.get("size").asLong() == Files.size(p))
      assert(a.get("modificationTime").asLong() > 0)
      assert(a.get("dataChange").asBoolean())
      assert(a.get("partitionValues").isObject)
    }
  }

  test("overwrite mirrors remove actions for every previously-live file") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitOverwrite(events.filter(col("event_id") >= 300), t)
    val v0adds = actions(t, 0L).flatMap(n => Option(n.get("add")))
      .map(_.get("path").asText()).toSet
    val v1removes = actions(t, 1L).flatMap(n => Option(n.get("remove")))
      .map(_.get("path").asText()).toSet
    assert(v1removes == v0adds,
      "the overwrite must remove exactly commit 0's add set")
    v1removes.foreach { p =>
      val r = actions(t, 1L).flatMap(n => Option(n.get("remove")))
        .find(_.get("path").asText() == p).get
      assert(r.get("dataChange").asBoolean())
      assert(r.get("deletionTimestamp").asLong() > 0)
    }
  }

  test("log replay over our own mirror equals the TxLog snapshot") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitOverwrite(events.filter(col("event_id").between(300, 600)), t)
    TxLog.commitAppend(events.filter(col("event_id") > 600), t)
    assert(DeltaLog.versions(t) == Seq(0L, 1L, 2L))
    val viaDelta = DeltaLog.snapshot(s, t)
    val viaTxLog = TxLog.snapshot(s, t)
    assert(viaDelta.count() == viaTxLog.count())
    assert(viaDelta.agg(sum(col("value"))).head.getDouble(0) ==
      viaTxLog.agg(sum(col("value"))).head.getDouble(0))
    // time travel through the delta log
    assert(DeltaLog.snapshotAt(s, t, 0L).count() ==
      events.filter(col("event_id") < 300).count())
  }

  test("reads an externally-authored _delta_log (no _txlog present)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    // a foreign writer: parquet files + hand-authored JSON commits only
    val keep = events.filter(col("event_id") < 200)
    val drop = events.filter(col("event_id") >= 800)
    keep.write.parquet(s"$t/part-keep")
    drop.write.parquet(s"$t/part-drop")
    def dataFiles(sub: String): Seq[String] =
      Files.list(Paths.get(t, sub)).iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .map(n => s"$sub/$n").toSeq.sorted
    val ld = Files.createDirectories(Paths.get(t, "_delta_log"))
    // metaData via Jackson so schemaString's embedded quotes escape correctly
    val metaLine = {
      val n = mapper.createObjectNode()
      val m = n.putObject("metaData")
      m.put("id", "x")
      val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", keep.schema.json)
      m.putArray("partitionColumns"); m.putObject("configuration"); m.put("createdTime", 3L)
      mapper.writeValueAsString(n)
    }
    def addLine(p: String) =
      s"""{"add":{"path":"$p","partitionValues":{},"size":${Files.size(Paths.get(t, p))},"modificationTime":1,"dataChange":true}}"""
    def removeLine(p: String) =
      s"""{"remove":{"path":"$p","deletionTimestamp":2,"dataChange":true}}"""
    Files.writeString(ld.resolve(f"${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", metaLine) ++
        (dataFiles("part-keep") ++ dataFiles("part-drop")).map(addLine))
        .mkString("\n"))
    Files.writeString(ld.resolve(f"${1L}%020d.json"),
      dataFiles("part-drop").map(removeLine).mkString("\n"))
    assert(!Files.exists(Paths.get(t, "_txlog")))
    assert(DeltaLog.snapshot(s, t).count() == keep.count())
    assert(DeltaLog.snapshotAt(s, t, 0L).count() == keep.count() + drop.count())
  }

  test("checkpoint compacts the log: snapshot survives aging out the JSON prefix") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitOverwrite(events.filter(col("event_id").between(300, 600)), t)
    TxLog.commitAppend(events.filter(col("event_id") > 600), t)
    val expected = TxLog.snapshot(s, t).count()
    val cpV = DeltaLog.checkpoint(s, t)
    assert(cpV == 2L, "checkpoint lands at the latest Delta version")
    val ld = Paths.get(t, "_delta_log")
    assert(Files.exists(ld.resolve(f"$cpV%020d.checkpoint.parquet")))
    val lc = mapper.readTree(Files.readString(ld.resolve("_last_checkpoint")))
    assert(lc.get("version").asLong() == cpV)
    assert(lc.get("size").asLong() > 2, "protocol + metaData + adds")
    // checkpoint file itself must carry the Delta checkpoint shape
    val cp = s.read.parquet(ld.resolve(f"$cpV%020d.checkpoint.parquet").toString)
    assert(cp.columns.toSet ==
      Set("protocol", "metaData", "add", "remove", "txn", "domainMetadata"))
    assert(cp.filter(col("protocol").isNotNull).count() == 1)
    assert(cp.filter(col("metaData").isNotNull).count() == 1)
    assert(cp.filter(col("add").isNotNull).count() > 0)
    // the overwrite's tombstones are young, so the checkpoint must carry
    // them (foreign VACUUM coordination reads checkpoint removes)
    assert(cp.filter(col("remove").isNotNull).count() ==
      actions(t, 1L).flatMap(n => Option(n.get("remove"))).size,
      "unexpired remove tombstones must survive into the checkpoint")
    // Delta's compaction contract: the JSON prefix may now disappear
    (0L to cpV).foreach(v => Files.delete(ld.resolve(f"$v%020d.json")))
    assert(DeltaLog.snapshot(s, t).count() == expected,
      "replay from the checkpoint alone must reconstruct the live state")
    // and commits AFTER the checkpoint still apply on top of it
    TxLog.commitAppend(events.filter(col("event_id") === 0), t)
    assert(DeltaLog.snapshot(s, t).count() ==
      expected + events.filter(col("event_id") === 0).count())
  }

  test("a gapped log is refused; the next TxLog commit backfills the gap from manifests") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 200), t)
    TxLog.commitAppend(events.filter(col("event_id").between(200, 400)), t)
    TxLog.commitAppend(events.filter(col("event_id") > 400), t)
    val expected = TxLog.snapshot(s, t).count()
    // simulate a committer killed between manifest link and mirror:
    // Delta version 1 vanishes while 0 and 2 remain
    val ld = Paths.get(t, "_delta_log")
    Files.delete(ld.resolve(f"${1L}%020d.json"))
    // the dead committer was a DIFFERENT process: this one must re-derive
    // mirror state from disk, not trust its in-process floor cache
    TxLog.resetMirrorCache()
    val err = intercept[RuntimeException](DeltaLog.snapshot(s, t))
    assert(err.getMessage.contains("gaps"),
      "replaying a gapped log must fail loudly, not return a partial state")
    // the next commit backfills version 1 from the manifests before
    // mirroring its own
    TxLog.commitAppend(events.filter(col("event_id") === 0), t)
    assert(DeltaLog.versions(t) == Seq(0L, 1L, 2L, 3L))
    assert(DeltaLog.snapshot(s, t).count() ==
      expected + events.filter(col("event_id") === 0).count())
  }

  test("a DV commit backfills a lost mirror version before mirroring its own") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 200), t)
    TxLog.setTableProperties(s, t, Map("delta.enableDeletionVectors" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id").between(200, 400)), t)
    TxLog.commitAppend(events.filter(col("event_id") > 400), t)
    // a committer killed between manifest link and mirror: Delta version
    // 2 (the second append) vanishes, and this process forgets its floor
    Files.delete(Paths.get(t, "_delta_log", f"${2L}%020d.json"))
    TxLog.resetMirrorCache()
    // only merge-on-read DML follows — no append may repair the gap
    TxLog.deleteWhereDv(s, t, col("event_id") % 7 === 0)
    TxLog.mergeIntoDv(s, t,
      events.filter(col("event_id") % 11 === 0).withColumn("value", lit(1.0)),
      Seq("event_id"))
    val cur = TxLog.currentVersion(t).get
    assert(DeltaLog.versions(t) == (0L until cur),
      s"the Delta log must be contiguous through v${cur - 1}: ${DeltaLog.versions(t)}")
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.select("event_id", "value").collect().map(_.toString).sorted.toSeq
    assert(rows(DeltaLog.snapshot(s, t)) == rows(TxLog.snapshot(s, t)))
  }

  test("paths with '+' and '%' survive the log encoding round-trip") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    // a foreign writer whose data file names contain characters that a
    // form-decoder (URLDecoder) would corrupt
    val keep = events.filter(col("event_id") < 100)
    keep.write.parquet(s"$t/batch")
    val odd = Files.list(Paths.get(t, "batch")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val oddName = "part+1%x.parquet"
    Files.move(odd, Paths.get(t, "batch", oddName))
    val ld = Files.createDirectories(Paths.get(t, "_delta_log"))
    val metaLine = {
      val n = mapper.createObjectNode()
      val m = n.putObject("metaData")
      m.put("id", "x")
      val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", keep.schema.json)
      m.putArray("partitionColumns"); m.putObject("configuration"); m.put("createdTime", 3L)
      mapper.writeValueAsString(n)
    }
    // per the Delta spec: percent-encode '%', keep literal '+'
    val encoded = "batch/part+1%25x.parquet"
    Files.writeString(ld.resolve(f"${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", metaLine,
        s"""{"add":{"path":"$encoded","partitionValues":{},"size":${Files.size(Paths.get(t, "batch", oddName))},"modificationTime":1,"dataChange":true}}""")
        .mkString("\n"))
    assert(DeltaLog.snapshot(s, t).count() == keep.count(),
      "a '+' in the file name must stay literal and '%25' must decode to '%'")
  }

  test("concurrent committers leave a contiguous, complete Delta mirror") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    // 6 racing committers, each appending a disjoint slice: optimistic
    // retries interleave with mirror writes and backfills
    val slices = (0 until 6).map(i =>
      events.filter(pmod(col("event_id"), lit(6)) === i))
    val threads = slices.map { df =>
      new Thread(() => { TxLog.commitAppend(df, t); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(TxLog.currentVersion(t).contains(6L))
    assert(DeltaLog.versions(t) == (0L to 5L),
      "every racer's commit must be mirrored with no gaps")
    assert(DeltaLog.snapshot(s, t).count() == events.count(),
      "the delta-log replay must see every committed slice")
    assert(DeltaLog.snapshot(s, t).agg(sum(col("value"))).head.getDouble(0) ==
      TxLog.snapshot(s, t).agg(sum(col("value"))).head.getDouble(0))
  }

  test("forced guard=0 routes through the distributed reconstruction and matches the driver fold") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitOverwrite(events.filter(col("event_id").between(300, 600)), t)
    TxLog.commitAppend(events.filter(col("event_id") > 600), t)
    val viaDriver = DeltaLog.snapshot(s, t)
    assert(DeltaLog.lastReplayPath == "driver",
      "a tiny log must replay on the driver by default")
    val (cnt, total) = (viaDriver.count(),
      viaDriver.agg(sum(col("value"))).head.getDouble(0))
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      val viaDF = DeltaLog.snapshot(s, t)
      assert(DeltaLog.lastReplayPath == "distributed",
        "guard=0 must force the DataFrame reconstruction")
      assert(viaDF.count() == cnt)
      assert(viaDF.agg(sum(col("value"))).head.getDouble(0) == total)
      // time travel takes the same route and must honor the overwrite
      assert(DeltaLog.snapshotAt(s, t, 0L).count() ==
        events.filter(col("event_id") < 300).count())
      assert(DeltaLog.lastReplayPath == "distributed")
      // and replay-from-checkpoint composes with the distributed path
      DeltaLog.checkpoint(s, t)
      assert(DeltaLog.snapshot(s, t).count() == cnt)
    } finally DeltaLog.driverMaxLogBytes = saved
  }

  test("_last_checkpoint never regresses to an older version") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitAppend(events.filter(col("event_id") >= 300), t)
    DeltaLog.checkpoint(s, t)
    val ld = Paths.get(t, "_delta_log")
    def pointer(): Long =
      mapper.readTree(Files.readString(ld.resolve("_last_checkpoint")))
        .get("version").asLong()
    assert(pointer() == 1L)
    // a racing committer that crossed an older checkpoint boundary last
    // must NOT roll the pointer back past a newer checkpoint
    DeltaLog.writeLastCheckpoint(Paths.get(t), 0L, 3L)
    assert(pointer() == 1L, "older pointer write must be skipped")
    DeltaLog.writeLastCheckpoint(Paths.get(t), 5L, 3L)
    assert(pointer() == 5L, "newer pointer write must land")
  }

  test("URI-reserved characters in data-file names are escaped on write and round-trip") {
    // stock readers parse add.path as a URI: '#' starts a fragment, '?' a
    // query — unescaped they mis-parse. The write side must escape the
    // full reserved set, not just '%'/' '/'+'.
    val nasty = Seq("a b#c?d.parquet", "x+y%z.parquet", "semi;colon&amp[br]=.parquet",
      "unié中.parquet", "data/part-00000-x.parquet")
    nasty.foreach { p =>
      assert(DeltaLog.pathCodecRoundtrip(p) == p, s"round-trip must be identity: $p")
      val enc = DeltaLog.pathEncode(p)
      "#?;&=[]+ ".foreach(c =>
        assert(!enc.contains(c.toString), s"'$c' must be escaped in $enc"))
      // '%' appears only as the escape char: always followed by two hex digits
      enc.zipWithIndex.filter(_._1 == '%').foreach { case (_, i) =>
        assert(i + 2 < enc.length &&
          enc.substring(i + 1, i + 3).forall("0123456789ABCDEF".contains(_)),
          s"bare '%' in $enc")
      }
    }
    // '/' separates path segments and must stay literal
    assert(DeltaLog.pathEncode("data/part-1.parquet") == "data/part-1.parquet")
  }

  test("a schema change mirrors a fresh metaData action; same-schema commits don't") {
    val t = freshTable()
    val schemaA = """{"type":"struct","fields":[{"name":"a","type":"long","nullable":true,"metadata":{}}]}"""
    val schemaB = """{"type":"struct","fields":[{"name":"a","type":"long","nullable":true,"metadata":{}},{"name":"b","type":"string","nullable":true,"metadata":{}}]}"""
    // drive the mirror directly (TxLog tables are fixed-schema in the
    // fixtures; the mirror contract is per-commit schemaString)
    val dir = Paths.get(t)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("f1.parquet"), "x")
    Files.writeString(dir.resolve("f2.parquet"), "y")
    Files.writeString(dir.resolve("f3.parquet"), "z")
    DeltaLog.mirrorCommit(dir, 1L, Seq("f1.parquet"), Seq.empty, schemaA)
    DeltaLog.mirrorCommit(dir, 2L, Seq("f2.parquet"), Seq.empty, schemaA)
    DeltaLog.mirrorCommit(dir, 3L, Seq("f3.parquet"), Seq.empty, schemaB)
    assert(actions(t, 0L).exists(_.has("metaData")))
    assert(!actions(t, 1L).exists(_.has("metaData")),
      "an unchanged schema must not re-emit metaData")
    val evolved = actions(t, 2L).filter(_.has("metaData"))
    assert(evolved.size == 1,
      "a changed schema must land a fresh metaData action (readers use " +
        "metaData.schemaString, not file inference)")
    assert(evolved.head.get("metaData").get("schemaString").asText() == schemaB)
    // id stays stable across the evolution
    assert(evolved.head.get("metaData").get("id").asText() ==
      actions(t, 0L).find(_.has("metaData")).get.get("metaData").get("id").asText())
  }

  test("tableChanges across an ADD null-fills preimages under the end " +
      "schema; across a DROP it refuses") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val b0 = events.filter(col("event_id") < 200)
    val b1 = events.filter(col("event_id").between(200, 399))
      .withColumn("grade", lit("y"))
    b0.write.parquet(s"$t/part-b0")
    b1.write.parquet(s"$t/part-b1")
    def dataFiles(sub: String): Seq[String] =
      Files.list(Paths.get(t, sub)).iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .map(n => s"$sub/$n").toSeq.sorted
    val ld = Files.createDirectories(Paths.get(t, "_delta_log"))
    def metaLine(schema: org.apache.spark.sql.types.StructType) = {
      val n = mapper.createObjectNode()
      val m = n.putObject("metaData")
      m.put("id", "x")
      val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", schema.json)
      m.putArray("partitionColumns"); m.putObject("configuration"); m.put("createdTime", 3L)
      mapper.writeValueAsString(n)
    }
    def addLine(p: String) =
      s"""{"add":{"path":"$p","partitionValues":{},"size":${Files.size(Paths.get(t, p))},"modificationTime":1,"dataChange":true}}"""
    Files.writeString(ld.resolve(f"${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaLine(b0.schema)) ++ dataFiles("part-b0").map(addLine))
        .mkString("\n"))
    Files.writeString(ld.resolve(f"${1L}%020d.json"),
      (metaLine(b1.schema) +: dataFiles("part-b1").map(addLine))
        .mkString("\n"))
    val feed = DeltaLog.tableChanges(s, t, 0L, 2L)
    assert(feed.columns.contains("grade"))
    assert(feed.count() == 400L)
    assert(feed.filter(col("event_id") < 200 && col("grade").isNull)
      .count() == 200L, "preimages must null-fill the added column")
    assert(feed.filter(col("grade") === "y").count() == 200L)
    // commit 2 DROPS `props`: a range spanning it must refuse — the
    // older frames' rows carry the column the end schema lost
    val b2 = events.filter(col("event_id").between(400, 599))
      .withColumn("grade", lit("z")).drop("props")
    b2.write.parquet(s"$t/part-b2")
    Files.writeString(ld.resolve(f"${2L}%020d.json"),
      (metaLine(b2.schema) +: dataFiles("part-b2").map(addLine))
        .mkString("\n"))
    val e = intercept[RuntimeException](
      DeltaLog.tableChanges(s, t, 0L, 3L).count())
    assert(e.getMessage.contains("DROP/RENAME") &&
      e.getMessage.contains("props"), e.getMessage)
    // a range that starts PAST the drop presents cleanly
    assert(DeltaLog.tableChanges(s, t, 2L, 3L).count() == 200L)
  }

  test("checkpoint-of-checkpoint round-trips metaData createdTime and configuration") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val keep = events.filter(col("event_id") < 200)
    keep.write.parquet(s"$t/batch")
    def dataFiles: Seq[String] =
      Files.list(Paths.get(t, "batch")).iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .map(n => s"batch/$n").toSeq.sorted
    val ld = Files.createDirectories(Paths.get(t, "_delta_log"))
    val metaLine = {
      val n = mapper.createObjectNode()
      val m = n.putObject("metaData")
      m.put("id", "ext-42")
      val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", keep.schema.json)
      m.putArray("partitionColumns")
      m.putObject("configuration").put("delta.appendOnly", "false")
      m.put("createdTime", 31337L)
      mapper.writeValueAsString(n)
    }
    Files.writeString(ld.resolve(f"${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", metaLine) ++
        dataFiles.map(p =>
          s"""{"add":{"path":"$p","partitionValues":{},"size":${Files.size(Paths.get(t, p))},"modificationTime":1,"dataChange":true}}"""))
        .mkString("\n"))
    DeltaLog.checkpoint(s, t)
    // age out the JSON prefix, then checkpoint AGAIN — the second
    // checkpoint can only read metaData from the first one
    Files.delete(ld.resolve(f"${0L}%020d.json"))
    DeltaLog.checkpoint(s, t)
    val cp = s.read.parquet(ld.resolve(f"${0L}%020d.checkpoint.parquet").toString)
      .filter(col("metaData").isNotNull).select("metaData.*").head
    assert(cp.getAs[String]("id") == "ext-42")
    assert(cp.getAs[Long]("createdTime") == 31337L,
      "createdTime must survive checkpoint-of-checkpoint")
    assert(cp.getAs[Map[String, String]]("configuration") ==
      Map("delta.appendOnly" -> "false"),
      "configuration must survive checkpoint-of-checkpoint")
    assert(DeltaLog.snapshot(s, t).count() == keep.count())
  }

  test("a foreign checkpoint with extra action fields (stats/tags/name) replays on both paths") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val keep = events.filter(col("event_id") < 150)
    keep.write.parquet(s"$t/batch")
    val files = Files.list(Paths.get(t, "batch")).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(n => s"batch/$n").toSeq.sorted
    val ld = Files.createDirectories(Paths.get(t, "_delta_log"))
    // a delta-spark-style checkpoint: add carries stats/tags, metaData
    // carries name/description — arities a positional struct cast would
    // choke on (fields here are a SUPERSET of ours, by name)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("tags", MapType(StringType, StringType))))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val cpSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", metaT),
      StructField("add", addT)))
    val rows: Seq[Row] =
      Row(Row(1, 2), null, null) +:
      Row(null, Row("ext-id", "tbl", "desc", Row("parquet", Map.empty[String, String]),
        keep.schema.json, Seq.empty[String], Map.empty[String, String], 7L), null) +:
      files.map(p => Row(null, null,
        Row(p, Map.empty[String, String], Files.size(Paths.get(t, p)),
          1L, false, """{"numRecords":1}""", Map("tag" -> "v"))))
    val tmp = Files.createTempDirectory("cp_ext")
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), cpSchema)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, ld.resolve(f"${0L}%020d.checkpoint.parquet"))
    Files.writeString(ld.resolve("_last_checkpoint"), s"""{"version":0,"size":${rows.size}}""")
    // one JSON commit after the checkpoint removes a file
    Files.writeString(ld.resolve(f"${1L}%020d.json"),
      s"""{"commitInfo":{"timestamp":9,"operation":"WRITE","operationParameters":{"mode":"Overwrite"}}}
         |{"remove":{"path":"${files.head}","deletionTimestamp":9,"dataChange":true}}""".stripMargin)
    val expected = keep.count() -
      s.read.parquet(s"$t/${files.head}").count()
    assert(DeltaLog.snapshot(s, t).count() == expected, "driver path")
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      assert(DeltaLog.snapshot(s, t).count() == expected,
        "distributed path must shape foreign action structs by field name")
      assert(DeltaLog.lastReplayPath == "distributed")
      // and a checkpoint-of-foreign-checkpoint keeps the metaData core
      DeltaLog.checkpoint(s, t)
      val cp2 = s.read.parquet(ld.resolve(f"${1L}%020d.checkpoint.parquet").toString)
        .filter(col("metaData").isNotNull).select("metaData.*").head
      assert(cp2.getAs[String]("id") == "ext-id")
      assert(cp2.getAs[Long]("createdTime") == 7L)
    } finally DeltaLog.driverMaxLogBytes = saved
  }

  test("timestampAsOf resolves commit times like stock Delta, with monotonicity repair") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val keep = events.filter(col("event_id") < 100)
    keep.write.parquet(s"$t/batch")
    def dataFiles: Seq[String] =
      Files.list(Paths.get(t, "batch")).iterator.asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .map(n => s"batch/$n").toSeq.sorted
    val ld = Files.createDirectories(Paths.get(t, "_delta_log"))
    val metaLine = {
      val n = mapper.createObjectNode()
      val m = n.putObject("metaData")
      m.put("id", "x")
      val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", keep.schema.json)
      m.putArray("partitionColumns"); m.putObject("configuration"); m.put("createdTime", 1L)
      mapper.writeValueAsString(n)
    }
    def commit(v: Long, ts: Long, adds: Seq[String], head: Seq[String] = Seq.empty): Unit =
      Files.writeString(ld.resolve(f"$v%020d.json"),
        (head ++ Seq(s"""{"commitInfo":{"timestamp":$ts,"operation":"WRITE","operationParameters":{"mode":"Append"}}}""") ++
          adds.map(p => s"""{"add":{"path":"$p","partitionValues":{},"size":${Files.size(Paths.get(t, p))},"modificationTime":1,"dataChange":true}}"""))
          .mkString("\n"))
    val fs = dataFiles
    // commit times 1000, then a SKEWED 500 (racing committer's clock),
    // then 3000 — effective times must repair to 1000, 1001, 3000
    commit(0L, 1000L, fs.take(1),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", metaLine))
    commit(1L, 500L, fs.drop(1).take(1))
    commit(2L, 3000L, fs.drop(2))
    assert(DeltaLog.versionAsOf(t, 1000L) == 0L, "exact boundary resolves inclusively")
    assert(DeltaLog.versionAsOf(t, 1001L) == 1L, "skewed commit repairs to predecessor+1ms")
    assert(DeltaLog.versionAsOf(t, 2999L) == 1L)
    assert(DeltaLog.versionAsOf(t, 999999L) == 2L)
    val err = intercept[RuntimeException](DeltaLog.versionAsOf(t, 999L))
    assert(err.getMessage.contains("predates"),
      "a timestamp before the first commit must fail loudly")
    // and the resolved snapshot is the real version-0 state
    assert(DeltaLog.snapshotAsOf(s, t, 1000L).count() ==
      s.read.parquet(s"$t/${fs.head}").count())
  }

  // ----------------------------------------------- golden fixture (v1)
  // A FROZEN tree authored by an earlier build of this writer
  // (fixtures/golden_delta/README.md). Replaying it pins reader
  // back-compat; asserting its structure pins writer conformance. When a
  // stock Delta reader jar lands, the same tree is the round-trip input.

  private val golden = "fixtures/golden_delta/v1"

  test("golden fixture: replay yields the exact frozen snapshot (both replay paths)") {
    val s = spark
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val expected = Seq((4L, "delta", 40.75), (5L, "epsilon", 50.5), (6L, "zeta", 60.125))
    assert(rows(DeltaLog.snapshot(s, golden)) == expected)
    // time travel to v0 = the overwritten first append
    assert(rows(DeltaLog.snapshotAt(s, golden, 0L)) ==
      Seq((1L, "alpha", 10.5), (2L, "beta", 20.25), (3L, "gamma", 30.0)))
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      assert(rows(DeltaLog.snapshot(s, golden)) == expected,
        "distributed reconstruction must replay the frozen tree identically")
    } finally DeltaLog.driverMaxLogBytes = saved
  }

  test("golden fixture: action-level protocol conformance of the frozen log") {
    val s = spark
    import org.apache.spark.sql.functions._
    val a0 = actions(golden, 0L)
    val protocol = a0.flatMap(n => Option(n.get("protocol")))
    assert(protocol.size == 1 && protocol.head.get("minReaderVersion").asInt() == 1 &&
      protocol.head.get("minWriterVersion").asInt() == 2)
    val meta = a0.flatMap(n => Option(n.get("metaData")))
    assert(meta.size == 1)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(meta.head.get("schemaString").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == Seq("id", "name", "score"))
    // the overwrite removed EXACTLY commit 0's add set
    val v0adds = a0.flatMap(n => Option(n.get("add"))).map(_.get("path").asText()).toSet
    val v1removes = actions(golden, 1L).flatMap(n => Option(n.get("remove")))
      .map(_.get("path").asText()).toSet
    assert(v1removes == v0adds)
    // checkpoint: full action shape, tombstones carried, pointer at 2
    val cp = s.read.parquet(s"$golden/_delta_log/00000000000000000002.checkpoint.parquet")
    // frozen pre-txn-era tree: 4 action columns (replay null-fills txn)
    assert(cp.columns.toSet == Set("protocol", "metaData", "add", "remove"))
    assert(cp.filter(col("add").isNotNull).count() == 2)
    assert(cp.filter(col("remove").isNotNull).count() == v1removes.size)
    assert(mapper.readTree(Files.readString(
      Paths.get(golden, "_delta_log", "_last_checkpoint"))).get("version").asLong() == 2L)
    // every live add resolves to a real data file of the recorded size
    cp.filter(col("add").isNotNull).select("add.path", "add.size").collect().foreach { r =>
      val p = Paths.get(golden, DeltaLog.pathDecode(r.getString(0)))
      assert(Files.exists(p) && Files.size(p) == r.getLong(1))
    }
  }

  // ------------------------------------------------------ data skipping

  test("mirrored add actions carry footer-harvested stats in the Delta stats shape") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    val adds = actions(t, 0L).flatMap(n => Option(n.get("add")))
    assert(adds.nonEmpty)
    adds.foreach { a =>
      assert(a.has("stats"), "every self-written parquet add must carry stats")
      val st = mapper.readTree(a.get("stats").asText())
      val file = Paths.get(t).resolve(a.get("path").asText()).toString
      val rows = s.read.parquet(file)
      assert(st.get("numRecords").asLong() == rows.count())
      val (lo, hi) = {
        val r = rows.agg(min(col("event_id")), max(col("event_id"))).head
        (r.getLong(0), r.getLong(1))
      }
      assert(st.get("minValues").get("event_id").asLong() == lo)
      assert(st.get("maxValues").get("event_id").asLong() == hi)
      assert(st.get("nullCount").get("event_id").asLong() == 0L)
      // doubles harvested too
      assert(st.get("minValues").has("value") && st.get("maxValues").has("value"))
      // string column present with full (short) values
      assert(st.get("minValues").has("event_type"))
    }
  }

  test("fileStats string rule: min may be a prefix, max omitted when truncation would be unsafe") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val sp = s
    import sp.implicits._
    val long1 = "z" * 100
    val long2 = "a" * 100 + "tail"
    Seq((1L, long2), (2L, long1)).toDF("id", "txt")
      .coalesce(1).write.parquet(s"$t/batch")
    val part = Files.list(Paths.get(t, "batch")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val st = mapper.readTree(DeltaLog.fileStats(part).get)
    assert(st.get("numRecords").asLong() == 2L)
    val mn = st.get("minValues").get("txt")
    assert(mn != null && long2.startsWith(mn.asText()),
      "a truncated min must be a PREFIX of the real min (still a lower bound)")
    assert(!st.get("maxValues").has("txt"),
      "a >64-char max must be omitted — a truncated upper bound could wrongly prune")
    assert(st.get("minValues").get("id").asLong() == 1L)
    assert(st.get("maxValues").get("id").asLong() == 2L)
  }

  test("skipScan prunes range-disjoint files on both replay paths and stays exact") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitAppend(events.filter(col("event_id").between(300, 599)), t)
    TxLog.commitAppend(events.filter(col("event_id") >= 600), t)
    val expected = DeltaLog.snapshot(s, t)
      .filter(col("event_id").between(350, 500)).count()
    assert(expected > 0)
    def check(): Unit = {
      val pruned = DeltaLog.skipScan(s, t, Seq(("event_id", 350L, 500L)))
      assert(pruned.count() == expected, "skipping must not change the result")
      val (total, read) = DeltaLog.lastSkipScan
      assert(read < total,
        s"the range covers only the middle commit: files must actually prune ($read/$total)")
      assert(read > 0)
    }
    check()
    assert(DeltaLog.lastReplayPath == "driver")
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      check()
      assert(DeltaLog.lastReplayPath == "distributed")
    } finally DeltaLog.driverMaxLogBytes = saved
    // a predicate no file can satisfy reads ZERO files yet keeps the schema
    val none = DeltaLog.skipScan(s, t, Seq(("event_id", 10000000L, null)))
    assert(none.count() == 0)
    assert(DeltaLog.lastSkipScan._2 == 0L, "impossible range must open no file")
    assert(none.columns.contains("event_type"), "empty result keeps the metaData schema")
    // half-open predicates work: lower bound only
    assert(DeltaLog.skipScan(s, t, Seq(("event_id", 600L, null))).count() ==
      events.filter(col("event_id") >= 600).count())
  }

  test("files with absent or malformed stats are never pruned") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val inRange = events.filter(col("event_id") < 100)
    val outOfRange = events.filter(col("event_id") >= 900)
    inRange.coalesce(1).write.parquet(s"$t/in")
    outOfRange.coalesce(1).write.parquet(s"$t/out")
    def one(sub: String): String =
      Files.list(Paths.get(t, sub)).iterator.asScala
        .map(_.getFileName.toString).find(_.endsWith(".parquet"))
        .map(n => s"$sub/$n").get
    val (fIn, fOut) = (one("in"), one("out"))
    val ld = Files.createDirectories(Paths.get(t, "_delta_log"))
    val metaLine = {
      val n = mapper.createObjectNode()
      val m = n.putObject("metaData")
      m.put("id", "x")
      val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", inRange.schema.json)
      m.putArray("partitionColumns"); m.putObject("configuration"); m.put("createdTime", 3L)
      mapper.writeValueAsString(n)
    }
    // fIn: NO stats (a writer that emitted none); fOut: malformed stats
    Files.writeString(ld.resolve(f"${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", metaLine) ++ Seq(
        s"""{"add":{"path":"$fIn","partitionValues":{},"size":${Files.size(Paths.get(t, fIn))},"modificationTime":1,"dataChange":true}}""",
        s"""{"add":{"path":"$fOut","partitionValues":{},"size":${Files.size(Paths.get(t, fOut))},"modificationTime":1,"dataChange":true,"stats":"not json at all"}}"""))
        .mkString("\n"))
    val res = DeltaLog.skipScan(s, t, Seq(("event_id", 0L, 50L)))
    assert(DeltaLog.lastSkipScan == ((2L, 2L)),
      "no stats and bad stats must both mean 'may match' — never prune")
    assert(res.count() == events.filter(col("event_id").between(0, 50)).count(),
      "the residual predicate still filters rows exactly")
  }

  test("stats survive checkpoint compaction: skipScan prunes from the checkpoint alone") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitAppend(events.filter(col("event_id").between(300, 599)), t)
    TxLog.commitAppend(events.filter(col("event_id") >= 600), t)
    val expected = DeltaLog.snapshot(s, t)
      .filter(col("event_id").between(350, 500)).count()
    val cpV = DeltaLog.checkpoint(s, t)
    val ld = Paths.get(t, "_delta_log")
    (0L to cpV).foreach(v => Files.delete(ld.resolve(f"$v%020d.json")))
    val pruned = DeltaLog.skipScan(s, t, Seq(("event_id", 350L, 500L)))
    assert(pruned.count() == expected)
    val (total, read) = DeltaLog.lastSkipScan
    assert(read < total,
      "add.stats must survive into the checkpoint rows and keep pruning after compaction")
  }

  // --------------------------------------------------- partitioned reads

  /** Hand-author a foreign partitioned table: `bucket = pmod(user_id, 3)`
    * hive layout when `hive=true`, flat opaque subdirs otherwise — the
    * log is authoritative for partition values in both.
    */
  private def authorPartitioned(t: String, hive: Boolean): Unit = {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events.withColumn("bucket", pmod(col("user_id"), lit(3)))
    val root = Paths.get(t)
    val files: Seq[(String, String)] =
      if (hive) {
        ev.write.mode("overwrite").partitionBy("bucket").parquet(t)
        Files.list(root).iterator.asScala.toSeq
          .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("bucket="))
          .flatMap { d =>
            Files.list(d).iterator.asScala.toSeq
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .map(f => (d.getFileName.toString.stripPrefix("bucket="),
                s"${d.getFileName}/${f.getFileName}"))
          }
      } else {
        (0 to 2).flatMap { b =>
          ev.filter(col("bucket") === b).drop("bucket")
            .write.mode("overwrite").parquet(s"$t/blob$b")
          Files.list(Paths.get(t, s"blob$b")).iterator.asScala.toSeq
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => (b.toString, s"blob$b/${f.getFileName}"))
        }
      }
    val ld = Files.createDirectories(root.resolve("_delta_log"))
    val metaLine = {
      val n = mapper.createObjectNode()
      val m = n.putObject("metaData")
      m.put("id", "part-x")
      val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", ev.schema.json)
      m.putArray("partitionColumns").add("bucket")
      m.putObject("configuration"); m.put("createdTime", 3L)
      mapper.writeValueAsString(n)
    }
    val addLines = files.map { case (b, rel) =>
      val n = mapper.createObjectNode()
      val a = n.putObject("add")
      a.put("path", rel)
      a.putObject("partitionValues").put("bucket", b)
      a.put("size", Files.size(root.resolve(rel)))
      a.put("modificationTime", 1L)
      a.put("dataChange", true)
      DeltaLog.fileStats(root.resolve(rel)).foreach(a.put("stats", _))
      mapper.writeValueAsString(n)
    }
    Files.writeString(ld.resolve(f"${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""", metaLine) ++ addLines)
        .mkString("\n"))
  }

  test("reads a foreign partitioned table: hive layout via basePath, typed from metaData") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    authorPartitioned(t, hive = true)
    val snap = DeltaLog.snapshot(s, t)
    val ev = events.withColumn("bucket", pmod(col("user_id"), lit(3)))
    assert(snap.schema("bucket").dataType ==
      org.apache.spark.sql.types.LongType,
      "partition column must be typed from schemaString, not inferred")
    assert(snap.columns.toSeq == ev.columns.toSeq,
      "column order must follow the metaData schema")
    assert(snap.count() == ev.count())
    assert(snap.filter(col("bucket") === 1).count() ==
      ev.filter(col("bucket") === 1).count())
    // partition predicates must prune at the SCAN (hive path → Spark's
    // own partition discovery → PartitionFilters), not post-filter
    val plan = snap.filter(col("bucket") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"partition filter must reach the scan:\n$plan")
  }

  test("reads a foreign partitioned table laid out WITHOUT hive dirs (log-only values)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    authorPartitioned(t, hive = false)
    val snap = DeltaLog.snapshot(s, t)
    val ev = events.withColumn("bucket", pmod(col("user_id"), lit(3)))
    assert(snap.schema("bucket").dataType == org.apache.spark.sql.types.LongType)
    assert(snap.count() == ev.count())
    // values come from the log, not the paths
    assert(snap.groupBy(col("bucket")).count().orderBy("bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      ev.groupBy(col("bucket")).count().orderBy("bucket")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("skipScan prunes whole partitions from partitionValues, composing with stats") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    authorPartitioned(t, hive = true)
    val ev = events.withColumn("bucket", pmod(col("user_id"), lit(3)))
    val expected = ev.filter(col("bucket") === 1).count()
    val res = DeltaLog.skipScan(s, t, Seq(("bucket", 1L, 1L)))
    assert(res.count() == expected)
    val (total, read) = DeltaLog.lastSkipScan
    assert(read < total, s"bucket=1 must prune the other buckets' files ($read/$total)")
    // composed with a stats predicate that rules everything out
    DeltaLog.skipScan(s, t, Seq(("bucket", 1L, 1L), ("event_id", 10000000L, null)))
    assert(DeltaLog.lastSkipScan._2 == 0L,
      "partition pruning and stats pruning must compose")
    // distributed path agrees
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      assert(DeltaLog.skipScan(s, t, Seq(("bucket", 1L, 1L))).count() == expected)
      assert(DeltaLog.lastReplayPath == "distributed")
      assert(DeltaLog.lastSkipScan._2 < DeltaLog.lastSkipScan._1)
    } finally DeltaLog.driverMaxLogBytes = saved
  }

  test("checkpoint of a partitioned table preserves partitionColumns and partitionValues") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    authorPartitioned(t, hive = true)
    val ev = events.withColumn("bucket", pmod(col("user_id"), lit(3)))
    DeltaLog.checkpoint(s, t)
    val ld = Paths.get(t, "_delta_log")
    Files.delete(ld.resolve(f"${0L}%020d.json"))
    // replay from the checkpoint alone: partition columns intact
    val snap = DeltaLog.snapshot(s, t)
    assert(snap.count() == ev.count())
    assert(snap.filter(col("bucket") === 2).count() ==
      ev.filter(col("bucket") === 2).count())
    // and partition pruning still works from checkpoint-carried values
    DeltaLog.skipScan(s, t, Seq(("bucket", 0L, 0L)))
    assert(DeltaLog.lastSkipScan._2 < DeltaLog.lastSkipScan._1)
  }

  test("property: skipScan equals the filtered snapshot for arbitrary ranges") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitAppend(events.filter(col("event_id").between(300, 599)), t)
    TxLog.commitAppend(events.filter(col("event_id") >= 600), t)
    val snap = DeltaLog.snapshot(s, t)
    def sig(df: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val r = df.agg(count(lit(1)), round(sum(col("value")), 6)).head
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    }
    val rnd = new scala.util.Random(42)
    // long ranges on event_id (the range-disjoint layout), double ranges
    // on value (uncorrelated with layout → rarely prunes, still exact),
    // string ranges on event_type, and a composed predicate
    (1 to 8).foreach { _ =>
      val a = rnd.nextInt(1100).toLong - 50
      val b = a + rnd.nextInt(500)
      assert(sig(DeltaLog.skipScan(s, t, Seq(("event_id", a, b)))) ==
        sig(snap.filter(col("event_id").between(a, b))), s"event_id [$a,$b]")
    }
    (1 to 4).foreach { _ =>
      val a = rnd.nextDouble() * 100 - 50
      val b = a + rnd.nextDouble() * 100
      assert(sig(DeltaLog.skipScan(s, t, Seq(("value", a, b)))) ==
        sig(snap.filter(col("value").between(a, b))), s"value [$a,$b]")
    }
    Seq(("a", "m"), ("p", "z"), ("click", "click")).foreach { case (a, b) =>
      assert(sig(DeltaLog.skipScan(s, t, Seq(("event_type", a, b)))) ==
        sig(snap.filter(col("event_type").between(a, b))), s"event_type [$a,$b]")
    }
    assert(sig(DeltaLog.skipScan(s, t,
        Seq(("event_id", 100L, 900L), ("value", null, 50.0), ("event_type", "a", "q")))) ==
      sig(snap.filter(col("event_id").between(100, 900) &&
        col("value") <= 50.0 && col("event_type").between("a", "q"))),
      "composed predicates")
  }

  // ----------------------------------------------- golden fixture (v2)
  // Same recipe as v1 but authored by the stats-carrying writer
  // (graft.tools.GoldenFixtureGen): pins the add.stats format and
  // stats-driven pruning against a frozen tree.

  private val golden2 = "fixtures/golden_delta/v2"

  test("golden fixture v2: replay + stats pinned against the frozen stats-era tree") {
    val s = spark
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val expected = Seq((4L, "delta", 40.75), (5L, "epsilon", 50.5), (6L, "zeta", 60.125))
    assert(rows(DeltaLog.snapshot(s, golden2)) == expected)
    assert(rows(DeltaLog.snapshotAt(s, golden2, 0L)) ==
      Seq((1L, "alpha", 10.5), (2L, "beta", 20.25), (3L, "gamma", 30.0)))
    // every frozen add action carries conformant stats
    (0L to 2L).foreach { v =>
      actions(golden2, v).flatMap(n => Option(n.get("add"))).foreach { a =>
        assert(a.has("stats"), s"v$v add must carry stats")
        val st = mapper.readTree(a.get("stats").asText())
        assert(st.get("numRecords").asLong() > 0)
        assert(st.get("minValues").has("id") && st.get("maxValues").has("id"))
      }
    }
    // stats-driven pruning on the frozen tree: id=6 lives in one of the
    // two live files (overwrite file holds {4,5}, append file holds {6})
    assert(rows(DeltaLog.skipScan(s, golden2, Seq(("id", 6L, 6L)))) ==
      Seq((6L, "zeta", 60.125)))
    assert(DeltaLog.lastSkipScan == ((2L, 1L)),
      "the frozen stats must prune exactly one of the two live files")
    // and the frozen checkpoint carries the stats column
    val cp = s.read.parquet(s"$golden2/_delta_log/00000000000000000002.checkpoint.parquet")
    assert(cp.filter(col("add").isNotNull)
      .filter(col("add.stats").isNull).count() == 0,
      "checkpoint add rows must retain stats")
  }

  // ----------------------------------------------- writer-format pins

  /** The JSON commits of `table` (versions 0..`upTo`), each line with
    * its run-dependent values masked: timestamps, mtimes,
    * deletionTimestamp, metaData id/createdTime, and data-file paths
    * (numbered by first appearance, so a remove still names the add it
    * cancels). Key order and every other value are kept. */
  private def maskedCommits(table: String, upTo: Long): Seq[Seq[String]] = {
    val files = scala.collection.mutable.LinkedHashMap.empty[String, String]
    (0L to upTo).map { v =>
      Files.readAllLines(Paths.get(table, "_delta_log", f"$v%020d.json")).asScala.toSeq
        .map { l =>
          val n = mapper.readTree(l)
          val kind = n.fieldNames().next()
          val a = n.get(kind).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          def mask(k: String): Unit = if (a.has(k)) { a.put(k, "<masked>"); () }
          Seq("timestamp", "modificationTime", "deletionTimestamp").foreach(mask)
          if (kind == "metaData") Seq("id", "createdTime").foreach(mask)
          if (a.has("path")) {
            val p = a.get("path").asText()
            a.put("path", files.getOrElseUpdate(p, s"<file${files.size}>"))
          }
          mapper.writeValueAsString(n)
        }
    }
  }

  /** Lands `df` as the one parquet file `root/rel`. Kept apart from
    * `DeltaLog.landFile` so the pins below stage their inputs without
    * the code they pin. */
  private def land(df: org.apache.spark.sql.DataFrame, root: java.nio.file.Path,
      rel: String): Unit = {
    val tmp = Files.createTempDirectory("graft_delta_spec_land")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.createDirectories(root.resolve(rel).getParent)
    Files.move(Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get, root.resolve(rel))
  }

  test("writer-format pin: the golden v2 recipe regenerates line for line") {
    val s = spark
    import s.implicits._
    // GoldenFixtureGen's recipe: append 3 / overwrite 2 / append 1
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, "alpha", 10.5), (2L, "beta", 20.25), (3L, "gamma", 30.0))
      .toDF("id", "name", "score").coalesce(1), t)
    TxLog.commitOverwrite(Seq((4L, "delta", 40.75), (5L, "epsilon", 50.5))
      .toDF("id", "name", "score").coalesce(1), t)
    TxLog.commitAppend(Seq((6L, "zeta", 60.125)).toDF("id", "name", "score").coalesce(1), t)
    val fresh = maskedCommits(t, 2L)
    val frozen = maskedCommits(golden2, 2L)
    fresh.zip(frozen).zipWithIndex.foreach { case ((f, g), v) =>
      assert(f == g, s"Delta version $v drifted from the frozen v2 writer")
    }
    assert(fresh.size == frozen.size)
  }

  test("writer-format pin: every Delta writer emits one action per line, in its kind's key order") {
    val s = spark
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // optional keys end in '?'
    val descOrder = Seq("storageType", "pathOrInlineDv", "offset?", "sizeInBytes", "cardinality")
    val orders = Map(
      "protocol" -> Seq("minReaderVersion", "minWriterVersion", "readerFeatures?",
        "writerFeatures?"),
      "metaData" -> Seq("id", "format", "schemaString", "partitionColumns",
        "configuration", "createdTime"),
      "commitInfo" -> Seq("timestamp", "operation", "operationParameters?",
        "inCommitTimestamp?"),
      "txn" -> Seq("appId", "version", "lastUpdated"),
      "add" -> Seq("path", "partitionValues", "size", "modificationTime", "dataChange",
        "stats?", "deletionVector?", "baseRowId?", "defaultRowCommitVersion?"),
      "remove" -> Seq("path", "deletionTimestamp", "dataChange", "deletionVector?"),
      "cdc" -> Seq("path", "partitionValues", "size", "dataChange"),
      "domainMetadata" -> Seq("domain", "configuration", "removed"))
    def conforms(keys: Seq[String], order: Seq[String]): Boolean =
      keys == order.map(_.stripSuffix("?")).filter(keys.contains) &&
        order.filterNot(_.endsWith("?")).forall(keys.contains)

    // mirrorCommit, with every optional action kind
    val m = Paths.get(freshTable())
    val ev = events
    Seq("p=a/f0.parquet", "p=b/f1.parquet", "p=a/f2.parquet", "_change_data/c0.parquet")
      .zipWithIndex.foreach { case (rel, i) =>
        land(ev.filter(col("event_id") % 4 === i), m, rel)
      }
    // descriptors are carried, not read, by the mirror
    val d0 = """{"storageType":"i","pathOrInlineDv":"wi5b=00001","sizeInBytes":20,"cardinality":1}"""
    val d1 = """{"storageType":"u","pathOrInlineDv":"ab^D=]gSk-KjmgdINQ9f","offset":1,""" +
      """"sizeInBytes":20,"cardinality":2}"""
    DeltaLog.mirrorCommit(m, 1L, Seq("p=a/f0.parquet", "p=b/f1.parquet"), Seq.empty,
      ev.schema.json, txn = Some(("app", 1L)))
    DeltaLog.mirrorCommit(m, 2L, Seq("p=a/f2.parquet"), Seq.empty, ev.schema.json,
      props = Map("delta.enableRowTracking" -> "true",
        "delta.enableInCommitTimestamps" -> "true"),
      rowIds = Map("p=a/f2.parquet" -> ((0L, 1L))),
      domains = Map("delta.rowTracking" -> """{"rowIdHighWaterMark":9}"""))
    DeltaLog.mirrorCommit(m, 3L, Seq.empty, Seq.empty, ev.schema.json, operation = "DELETE",
      dvUpdates = Map("p=a/f0.parquet" -> ((d0, None)), "p=a/f2.parquet" -> ((d1, None))),
      rowIds = Map("p=a/f2.parquet" -> ((0L, 1L))))
    DeltaLog.mirrorCommit(m, 4L, Seq.empty, Seq("p=b/f1.parquet"), ev.schema.json,
      cdcAdds = Seq("_change_data/c0.parquet"),
      dvUpdates = Map("p=a/f0.parquet" -> ((d1, Some(d0)))))
    // the Delta-only writers: DV delete (twice, so a remove carries a
    // DV), clone (u -> p), purge, and the schema/property commits
    val d = Paths.get(freshTable())
    land(ev.filter(col("event_id") < 300), d, "a.parquet")
    DeltaLog.mirrorCommit(d, 1L, Seq("a.parquet"), Seq.empty, ev.schema.json)
    DeltaLog.deleteVectors(s, d.toString, pmod(col("event_id"), lit(7)) === 0)
    DeltaLog.deleteVectors(s, d.toString, pmod(col("event_id"), lit(5)) === 0)
    val c = Files.createTempDirectory("graft_delta_spec_clone")
    DeltaLog.shallowClone(s, d.toString, c.toString)
    DeltaLog.purgeVectors(s, d.toString)
    DeltaLog.renameColumn(s, d.toString, "value", "price")
    DeltaLog.addColumn(s, d.toString, "tier", org.apache.spark.sql.types.StringType)
    DeltaLog.dropColumn(s, d.toString, "tier")
    DeltaLog.setTableProperties(s, d.toString, Map("delta.appendOnly" -> "false"))
    // the fixture tables
    val fixtures = Seq(DeltaLog.deltaPartitionedTable(s, sf), DeltaLog.deltaColMapTable(s, sf),
      DeltaLog.deltaRenamedTable(s, sf), DeltaLog.deltaEvolvedTable(s, sf),
      DeltaLog.deltaDvTable(s, sf), DeltaLog.deltaDvWriteTable(s, sf))

    val kinds = scala.collection.mutable.Set.empty[String]
    (Seq(m.toString, d.toString, c.toString) ++ fixtures).foreach { t =>
      DeltaLog.versions(t).foreach { v =>
        Files.readAllLines(Paths.get(t, "_delta_log", f"$v%020d.json")).asScala.foreach { l =>
          val n = mapper.readTree(l)
          assert(n.size == 1, s"$t v$v: one action per line: $l")
          val kind = n.fieldNames().next()
          val a = n.get(kind)
          assert(orders.contains(kind), s"$t v$v: unknown action '$kind'")
          assert(conforms(a.fieldNames().asScala.toSeq, orders(kind)),
            s"$t v$v: $kind keys out of order: $l")
          Option(a.get("deletionVector")).foreach(dv =>
            assert(conforms(dv.fieldNames().asScala.toSeq, descOrder),
              s"$t v$v: deletionVector keys out of order: $l"))
          kinds += kind
        }
      }
    }
    assert(kinds == orders.keySet, s"every action kind written at least once: $kinds")
  }

  test("lost race: the Delta-only writers fail loudly and leave the racer's commit intact") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    val ev = events
    val racer = """{"commitInfo":{"timestamp":1,"operation":"RACER"}}""" + "\n"
    def tmps(t: String): Seq[String] =
      Files.list(Paths.get(t, "_delta_log")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".tmp")).toSeq
    // a racing writer lands `racer` as the next Delta version the first
    // time `write` plans a query on this thread: after it read the
    // latest version, before its own commit
    def raced(t: String)(write: => Any): Unit = {
      val target = Paths.get(t, "_delta_log", f"${DeltaLog.versions(t).max + 1}%020d.json")
      val me = Thread.currentThread()
      val rule = new Rule[LogicalPlan] {
        def apply(plan: LogicalPlan): LogicalPlan = {
          if ((Thread.currentThread() eq me) && !Files.exists(target))
            Files.write(target, racer.getBytes("UTF-8"))
          plan
        }
      }
      val saved = s.experimental.extraOptimizations
      s.experimental.extraOptimizations = saved :+ rule
      val e = try intercept[RuntimeException](write)
        finally s.experimental.extraOptimizations = saved
      assert(e.getMessage.contains("concurrent commit"), e.getMessage)
      assert(Files.readString(target) == racer, "the racer's commit must stay as written")
      assert(tmps(t).isEmpty, s"no staged commit may be left behind: ${tmps(t)}")
    }
    val t = Paths.get(freshTable())
    land(ev.filter(col("event_id") < 300), t, "a.parquet")
    DeltaLog.mirrorCommit(t, 1L, Seq("a.parquet"), Seq.empty, ev.schema.json)
    raced(t.toString)(DeltaLog.deleteVectors(s, t.toString, pmod(col("event_id"), lit(7)) === 0))
    DeltaLog.deleteVectors(s, t.toString, pmod(col("event_id"), lit(7)) === 0)
    raced(t.toString)(DeltaLog.purgeVectors(s, t.toString))
    // the schema commits replay driver-side on a small log: force the
    // distributed replay so they plan a query before committing
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      raced(t.toString)(DeltaLog.renameColumn(s, t.toString, "value", "price"))
      raced(t.toString)(DeltaLog.setTableProperties(s, t.toString, Map("k" -> "v")))
    } finally DeltaLog.driverMaxLogBytes = saved
    // re-mirroring a present version is a no-op, not an overwrite
    val v0 = Paths.get(t.toString, "_delta_log", f"${0L}%020d.json")
    val before = Files.readAllBytes(v0).toSeq
    DeltaLog.mirrorCommit(t, 1L, Seq.empty, Seq("a.parquet"), ev.schema.json)
    assert(Files.readAllBytes(v0).toSeq == before)
    assert(tmps(t.toString).isEmpty)
  }

  test("partitioned TxLog writes mirror partitionValues and read back pruned") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 0),
      t, partitionBy = Seq("event_type"))
    TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 1),
      t, partitionBy = Seq("event_type"))
    // mirror: metaData declares the partitioning, every add carries its
    // path-derived value
    val meta = actions(t, 0L).flatMap(n => Option(n.get("metaData"))).head
    assert(meta.get("partitionColumns").size() == 1 &&
      meta.get("partitionColumns").get(0).asText() == "event_type")
    actions(t, 0L).flatMap(n => Option(n.get("add"))).foreach { a =>
      val fromPath = DeltaLog.pathDecode(a.get("path").asText())
        .split("/").find(_.startsWith("event_type=")).get
        .stripPrefix("event_type=")
      assert(a.get("partitionValues").get("event_type").asText() == fromPath)
      // partitioned data files must NOT carry the partition column
      assert(!a.get("stats").asText().contains("\"event_type\""))
    }
    // TxLog read recovers the column via partition discovery
    val viaTx = TxLog.snapshot(s, t)
    assert(viaTx.columns.contains("event_type"))
    assert(viaTx.count() == ev.count())
    // Delta read: schemaString ordering + typing, full equality
    val viaDelta = DeltaLog.snapshot(s, t)
    assert(viaDelta.columns.toSeq == ev.columns.toSeq)
    assert(viaDelta.count() == ev.count())
    assert(viaDelta.groupBy(col("event_type")).count().orderBy("event_type")
      .collect().toSeq ==
      ev.groupBy(col("event_type")).count().orderBy("event_type")
        .collect().toSeq)
    // partition pruning on the mirror
    val one = DeltaLog.skipScan(s, t, Seq(("event_type", "click", "click")))
    assert(one.count() == ev.filter(col("event_type") === "click").count())
    assert(DeltaLog.lastSkipScan._2 < DeltaLog.lastSkipScan._1,
      "a single-partition predicate must prune the other partitions' files")
    // and a partitioned OVERWRITE tombstones every replaced file
    TxLog.commitOverwrite(ev.filter(col("event_type") === "view"),
      t, partitionBy = Seq("event_type"))
    assert(DeltaLog.snapshot(s, t).count() ==
      ev.filter(col("event_type") === "view").count())
  }

  test("changesBetween reads only the window's surviving adds") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val a = events.filter(pmod(col("event_id"), lit(3)) === 0)
    val b = events.filter(pmod(col("event_id"), lit(3)) === 1)
    val c = events.filter(pmod(col("event_id"), lit(3)) === 2)
    TxLog.commitAppend(a, t)   // delta v0
    TxLog.commitAppend(b, t)   // delta v1
    TxLog.commitOverwrite(c, t) // delta v2: removes a+b's files
    assert(DeltaLog.changesBetween(s, t, 0L, 1L).count() == b.count(),
      "v0→v1 feed is exactly the second append")
    // b was added at v1 but removed by v2's overwrite: a v0→v2 consumer
    // must see only the surviving adds (c), never b's retracted files
    assert(DeltaLog.changesBetween(s, t, 0L, 2L).count() == c.count(),
      "adds retracted within the window must not appear")
    val empty = DeltaLog.changesBetween(s, t, 2L, 2L)
    assert(empty.count() == 0 && empty.columns.contains("event_type"),
      "an empty window is a valid empty feed with the table schema")
  }

  test("Delta vacuum physically deletes tombstoned and orphaned files, keeping the snapshot") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val a = events.filter(pmod(col("event_id"), lit(3)) === 0)
    val b = events.filter(pmod(col("event_id"), lit(3)) === 1)
    TxLog.commitAppend(a, t)
    TxLog.commitOverwrite(b, t)
    // a writer that died before committing: on disk, never logged
    events.filter(pmod(col("event_id"), lit(3)) === 2)
      .write.parquet(Paths.get(t).resolve("data-orphan").toString)
    def dirty(): Long = s.read
      .option("recursiveFileLookup", "true").option("pathGlobFilter", "*.parquet")
      .parquet(t).count()
    assert(dirty() > b.count(), "pre-vacuum the dirty glob sees dead files")
    val (deleted, retained) = DeltaLog.vacuum(s, t, retentionMs = 0L)
    assert(deleted > 0 && retained > 0)
    assert(dirty() == b.count(),
      "post-vacuum the raw glob equals the retained snapshot exactly")
    assert(DeltaLog.snapshot(s, t).count() == b.count())
    // time travel past the retention window now fails on the missing files
    intercept[Throwable] { DeltaLog.snapshotAt(s, t, 0L).count() }
    // vacuum with the default 7-day retention deletes nothing young
    val t2 = freshTable()
    TxLog.commitAppend(a, t2)
    TxLog.commitOverwrite(b, t2)
    val (deleted2, _) = DeltaLog.vacuum(s, t2)
    assert(deleted2 == 0L,
      "young tombstones are protected by the retention window")
  }

  test("vacuum honors the retention window via tombstone time, not file age") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val a = events.filter(pmod(col("event_id"), lit(3)) === 0)
    val b = events.filter(pmod(col("event_id"), lit(3)) === 1)
    TxLog.commitAppend(a, t)
    // age the FILES far past retention — only the tombstone is young
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 30L * 24 * 3600 * 1000)
    Files.walk(Paths.get(t)).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .foreach(Files.setLastModifiedTime(_, old))
    TxLog.commitOverwrite(b, t) // tombstones a's old files NOW
    val (deleted, _) = DeltaLog.vacuum(s, t) // default 7-day retention
    assert(deleted == 0L,
      "files tombstoned minutes ago must survive default-retention vacuum " +
        "even when the files themselves are 30 days old — readers of the " +
        "pre-overwrite snapshot may still hold their paths")
    assert(DeltaLog.snapshotAt(s, t, 0L).count() == a.count(),
      "time travel within the retention window must still work")
    val (deleted2, _) = DeltaLog.vacuum(s, t, retentionMs = 0L)
    assert(deleted2 > 0L, "an expired retention window sweeps them")
  }

  test("changesBetween reattaches partition columns on partitioned tables") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 0),
      t, partitionBy = Seq("event_type"))
    TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 1),
      t, partitionBy = Seq("event_type"))
    val feed = DeltaLog.changesBetween(s, t, 0L, 1L)
    assert(feed.columns.toSeq == ev.columns.toSeq,
      "the feed must carry the metaData schema incl. the partition column")
    val odd = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    assert(feed.count() == odd.count())
    assert(feed.groupBy(col("event_type")).count().orderBy("event_type").collect().toSeq ==
      odd.groupBy(col("event_type")).count().orderBy("event_type").collect().toSeq,
      "partition values in the feed come from the log")
    // an empty window carries the SAME schema, not a different shape
    assert(DeltaLog.changesBetween(s, t, 1L, 1L).columns.toSeq == ev.columns.toSeq)
  }

  test("skipScan accepts two predicates on the same column") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500), t)
    TxLog.commitAppend(events.filter(col("event_id") >= 500), t)
    val res = DeltaLog.skipScan(s, t,
      Seq(("event_id", 100L, null), ("event_id", null, 300L)))
    assert(res.count() == events.filter(col("event_id").between(100, 300)).count(),
      "duplicate-column predicates must compose, not crash on a duplicate struct field")
  }

  test("multi-part checkpoint: protocol names, parts pointer, replay on both paths") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    TxLog.commitOverwrite(events.filter(col("event_id").between(300, 599)), t)
    TxLog.commitAppend(events.filter(col("event_id") >= 600), t)
    val expected = TxLog.snapshot(s, t).count()
    val cpV = DeltaLog.checkpoint(s, t, parts = Some(3))
    val ld = Paths.get(t, "_delta_log")
    assert(!Files.exists(ld.resolve(f"$cpV%020d.checkpoint.parquet")),
      "a multi-part write must not leave a classic single file")
    val partFiles = Files.list(ld).iterator.asScala
      .map(_.getFileName.toString)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet")).toSeq.sorted
    assert(partFiles.size >= 2, s"expected multiple parts, got $partFiles")
    partFiles.zipWithIndex.foreach { case (n, i) =>
      assert(n == f"$cpV%020d.checkpoint.${i + 1}%010d.${partFiles.size}%010d.parquet",
        s"part name must follow the Delta multi-part convention: $n")
    }
    val lc = mapper.readTree(Files.readString(ld.resolve("_last_checkpoint")))
    assert(lc.get("version").asLong() == cpV)
    assert(lc.get("parts").asInt() == partFiles.size,
      "_last_checkpoint must record the part count")
    // compaction contract holds across parts
    (0L to cpV).foreach(v => Files.delete(ld.resolve(f"$v%020d.json")))
    assert(DeltaLog.snapshot(s, t).count() == expected)
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      assert(DeltaLog.snapshot(s, t).count() == expected,
        "the distributed reconstruction must union all parts")
      assert(DeltaLog.lastReplayPath == "distributed")
    } finally DeltaLog.driverMaxLogBytes = saved
    // stats survive the split: skipping still prunes from checkpoint parts
    DeltaLog.skipScan(s, t, Seq(("event_id", 700L, 800L)))
    assert(DeltaLog.lastSkipScan._2 < DeltaLog.lastSkipScan._1)
    // commits after the multi-part checkpoint still apply on top
    TxLog.commitAppend(events.filter(col("event_id") === 0), t)
    assert(DeltaLog.snapshot(s, t).count() ==
      expected + events.filter(col("event_id") === 0).count())
    // an INCOMPLETE part set is refused, not silently partial
    Files.delete(ld.resolve(partFiles.head))
    val err = intercept[RuntimeException](DeltaLog.snapshot(s, t))
    assert(err.getMessage.contains("incomplete multi-part checkpoint"),
      s"partial checkpoint must fail loudly, got: ${err.getMessage}")
  }

  test("a re-checkpoint with a different part count sweeps the stale set") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500), t)
    TxLog.commitAppend(events.filter(col("event_id") >= 500), t)
    val cpV = DeltaLog.checkpoint(s, t, parts = Some(3))
    DeltaLog.checkpoint(s, t, parts = Some(2))
    val ld = Paths.get(t, "_delta_log")
    val names = Files.list(ld).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet")).toSeq
    assert(names.forall(_.endsWith(f".${2}%010d.parquet")),
      s"stale 3-part files must be swept after the 2-part set lands: $names")
    assert(DeltaLog.snapshot(s, t).count() == events.count())
    // and back to a classic single file sweeps the parts
    DeltaLog.checkpoint(s, t, parts = Some(1))
    assert(Files.exists(ld.resolve(f"$cpV%020d.checkpoint.parquet")))
    val after = Files.list(ld).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet")).toSeq
    assert(after == Seq(f"$cpV%020d.checkpoint.parquet"), s"got $after")
    assert(DeltaLog.snapshot(s, t).count() == events.count())
  }

  // ------------------------------------------------- column mapping

  private def cmPhys(n: String): String = DeltaLog.physFixtureName(n)

  /** Author a foreign COLUMN-MAPPED table: `bands` event slices written
    * as separate files under PHYSICAL `col-<hash>` names (id mode also
    * stamps parquet field ids), per-file stats included, logical names
    * present only in schemaString's mapping metadata. No `_txlog`.
    */
  private def authorMapped(cmMode: String, bands: Int = 1,
      dropPhysName: Boolean = false): String = {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val t = freshTable()
    val root = Paths.get(t)
    val df = events.filter(col("event_id") < 900)
    val physSel = df.schema.fieldNames.toSeq.map(n => col(n).as(cmPhys(n)))
    val rels = (0 until bands).map { i =>
      val slice = df.filter(col("event_id") >= i * 300 && col("event_id") < (i + 1) * 300)
        .select(physSel: _*)
      val part =
        if (cmMode == "id") {
          // id-mode writers stamp parquet field ids into the footers;
          // physical names stay in the files too, but ids must win
          val withIds = StructType(slice.schema.fields.zipWithIndex.map { case (f, j) =>
            StructField(f.name, f.dataType, f.nullable,
              new MetadataBuilder().putLong("parquet.field.id", j + 1L).build())
          })
          s.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
          s.createDataFrame(slice.collectAsList(), withIds)
        } else slice
      val tmp = Files.createTempDirectory("graft_cmap_band")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val f = Files.list(tmp).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val rel = f"band-$i%02d.parquet"
      Files.move(f, root.resolve(rel))
      rel
    }
    val mapped = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
      val mb = new MetadataBuilder().putLong("delta.columnMapping.id", i + 1L)
      if (!dropPhysName) mb.putString("delta.columnMapping.physicalName", cmPhys(f.name))
      StructField(f.name, f.dataType, f.nullable, mb.build())
    })
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    val meta = mapper.createObjectNode()
    val m = meta.putObject("metaData")
    m.put("id", "cmap-fixture")
    m.putObject("format").put("provider", "parquet")
    m.put("schemaString", mapped.json)
    m.putArray("partitionColumns")
    m.putObject("configuration").put("delta.columnMapping.mode", cmMode)
    m.put("createdTime", 1L)
    lines += mapper.writeValueAsString(meta)
    rels.foreach { rel =>
      val n = mapper.createObjectNode()
      val a = n.putObject("add")
      a.put("path", rel)
      a.putObject("partitionValues")
      a.put("size", Files.size(root.resolve(rel)))
      a.put("modificationTime", 1L)
      a.put("dataChange", true)
      DeltaLog.fileStats(root.resolve(rel)).foreach(a.put("stats", _))
      lines += mapper.writeValueAsString(n)
    }
    val ld = Files.createDirectories(root.resolve("_delta_log"))
    Files.write(ld.resolve(f"${0L}%020d.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    t
  }

  test("column mapping mode=name: snapshot returns logical names and exact rows") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = authorMapped("name")
    val snap = DeltaLog.snapshot(s, t)
    assert(snap.schema.fieldNames.toSeq == events.schema.fieldNames.toSeq)
    val want = events.filter(col("event_id") < 300)
    assert(snap.count() == want.count())
    assert(snap.exceptAll(want).isEmpty && want.exceptAll(snap).isEmpty)
  }

  test("column mapping mode=id: parquet field ids resolve to logical names") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = authorMapped("id")
    val snap = DeltaLog.snapshot(s, t)
    assert(snap.schema.fieldNames.toSeq == events.schema.fieldNames.toSeq)
    val want = events.filter(col("event_id") < 300)
    assert(snap.exceptAll(want).isEmpty && want.exceptAll(snap).isEmpty)
  }

  test("column mapping: skipScan prunes on physical-keyed stats and still answers exactly") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = authorMapped("name", bands = 3)
    val got = DeltaLog.skipScan(s, t, Seq(("event_id", 310L, 590L)))
    assert(DeltaLog.lastSkipScan == (3L, 1L),
      s"stats keyed by physical names must prune 2 of 3 band files: ${DeltaLog.lastSkipScan}")
    val want = events.filter(col("event_id").between(310, 590))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("column mapping relabels NESTED struct fields") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val t = freshTable()
    val root = Paths.get(t)
    // physical file: col-k bigint, col-p struct<col-a bigint, col-b string>
    val physDf = s.range(5).select(col("id").as("col-k"),
      struct((col("id") * 2).as("col-a"),
        concat(lit("v"), col("id")).as("col-b")).as("col-p"))
    val tmp = Files.createTempDirectory("graft_cmap_nested")
    physDf.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.move(part, root.resolve("nested.parquet"))
    def md(phys: String, id: Long) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("k", LongType, nullable = false, md("col-k", 1)),
      StructField("payload", StructType(Seq(
        StructField("a", LongType, nullable = false, md("col-a", 3)),
        StructField("b", StringType, nullable = true, md("col-b", 4)))),
        nullable = true, md("col-p", 2))))
    val ld = Files.createDirectories(root.resolve("_delta_log"))
    val meta = mapper.createObjectNode()
    val m = meta.putObject("metaData")
    m.put("id", "nested-fixture")
    m.putObject("format").put("provider", "parquet")
    m.put("schemaString", logical.json)
    m.putArray("partitionColumns")
    m.putObject("configuration").put("delta.columnMapping.mode", "name")
    m.put("createdTime", 1L)
    Files.write(ld.resolve(f"${0L}%020d.json"),
      (s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
        mapper.writeValueAsString(meta) + "\n" +
        s"""{"add":{"path":"nested.parquet","partitionValues":{},"size":${Files.size(root.resolve("nested.parquet"))},"modificationTime":1,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    val snap = DeltaLog.snapshot(s, t)
    assert(snap.schema.fieldNames.toSeq == Seq("k", "payload"))
    assert(snap.schema("payload").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("a", "b"))
    val rows = snap.select(col("k"), col("payload.a"), col("payload.b"))
      .orderBy(col("k")).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      (0L until 5L).map(i => (i, i * 2, s"v$i")))
  }

  test("column mapping: a field missing physicalName fails loudly, never guesses") {
    val s = spark
    val t = authorMapped("name", dropPhysName = true)
    val e = intercept[RuntimeException](DeltaLog.snapshot(s, t).collect())
    assert(e.getMessage.contains("physicalName"), e.getMessage)
  }

  test("protocol guard: an unknown required reader feature refuses the read") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t)
    // upgrade the log in place: version 1 carries a protocol action
    // demanding a feature this engine does not implement
    val ld = Paths.get(t, "_delta_log")
    Files.write(ld.resolve(f"${1L}%020d.json"),
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""" + "\n")
        .getBytes("UTF-8"))
    val e = intercept[RuntimeException](DeltaLog.snapshot(s, t).collect())
    assert(e.getMessage.contains("v2Checkpoint"), e.getMessage)
    // while the SUPPORTED feature set passes the same gate
    Files.write(ld.resolve(f"${1L}%020d.json"),
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","columnMapping"],"writerFeatures":["deletionVectors"]}}""" + "\n")
        .getBytes("UTF-8"))
    assert(DeltaLog.snapshot(s, t).count() == events.filter(col("event_id") < 100).count())
  }

  test("renameColumn is metadata-only: one commit, zero data files touched") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = authorMapped("name") // reuse the mapped author: already-upgraded path
    val root = Paths.get(t)
    val dataFiles = Files.list(root).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val mtimes = dataFiles.map(f => f -> Files.getLastModifiedTime(f)).toMap
    val sizes = dataFiles.map(f => f -> Files.size(f)).toMap
    val v = DeltaLog.renameColumn(s, t, "value", "price")
    assert(v == 1L)
    dataFiles.foreach { f =>
      assert(Files.getLastModifiedTime(f) == mtimes(f) && Files.size(f) == sizes(f),
        s"rename must not rewrite $f")
    }
    val snap = DeltaLog.snapshot(s, t)
    assert(snap.columns.contains("price") && !snap.columns.contains("value"))
    val want = events.filter(col("event_id") < 300)
      .withColumnRenamed("value", "price")
    assert(snap.exceptAll(want).isEmpty && want.exceptAll(snap).isEmpty)
  }

  test("rename upgrades an UNMAPPED table and time travel keeps the old name") {
    val s = spark
    import org.apache.spark.sql.functions._
    // plain foreign table via the TxLog-free path: use the renamed
    // fixture's pre-rename shape by authoring a fresh minimal table
    val t = freshTable()
    val root = Paths.get(t)
    val df = events.filter(col("event_id") < 200)
    val tmp = Files.createTempDirectory("graft_rn_plain")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    Files.move(part, root.resolve("data.parquet"))
    val ld = Files.createDirectories(root.resolve("_delta_log"))
    val meta = mapper.createObjectNode()
    val m = meta.putObject("metaData")
    m.put("id", "rn-fixture")
    m.putObject("format").put("provider", "parquet")
    m.put("schemaString", df.schema.json)
    m.putArray("partitionColumns")
    m.putObject("configuration")
    m.put("createdTime", 1L)
    Files.write(ld.resolve(f"${0L}%020d.json"),
      (s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
        mapper.writeValueAsString(meta) + "\n" +
        s"""{"add":{"path":"data.parquet","partitionValues":{},"size":${Files.size(root.resolve("data.parquet"))},"modificationTime":1,"dataChange":true}}""" + "\n")
        .getBytes("UTF-8"))
    DeltaLog.renameColumn(s, t, "user_id", "uid")
    // the upgrade commit carries the protocol bump
    val a1 = actions(t, 1L)
    assert(a1.exists(n => Option(n.get("protocol"))
      .exists(_.get("minReaderVersion").asInt() == 2)))
    assert(DeltaLog.snapshot(s, t).columns.contains("uid"))
    // pre-rename version still shows the old logical world
    val old = DeltaLog.snapshotAt(s, t, 0L)
    assert(old.columns.contains("user_id") && !old.columns.contains("uid"))
    assert(old.agg(sum(col("user_id"))).head.getLong(0) ==
      DeltaLog.snapshot(s, t).agg(sum(col("uid"))).head.getLong(0))
    // mirrored tables refuse
    val mt = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 50), mt)
    val e = intercept[IllegalArgumentException](
      DeltaLog.renameColumn(s, mt, "value", "price"))
    assert(e.getMessage.contains("TxLog-mirrored"))
    // bad names refuse
    intercept[IllegalArgumentException](DeltaLog.renameColumn(s, t, "missing", "x"))
    intercept[IllegalArgumentException](DeltaLog.renameColumn(s, t, "uid", "ts"))
  }

  test("skip-scan prunes on the RENAMED logical name through physical-keyed stats") {
    val s = spark
    val t = DeltaLog.deltaRenamedTable(s, "/root/testdata/sf0.001")
    DeltaLog.skipScan(s, t, Seq(("event_no", 450L, 700L))).collect()
    assert(DeltaLog.lastSkipScan == (3L, 1L),
      s"stats keyed by the pre-rename physical names must still prune: ${DeltaLog.lastSkipScan}")
  }

  test("addColumn null-fills pre-evolution files; dropColumn hides bytes still on disk") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val t = DeltaLog.deltaEvolvedTable(s, "/root/testdata/sf0.001")
    val snap = DeltaLog.snapshot(s, t)
    // dropped column gone from the snapshot, still physically in the files
    assert(!snap.columns.contains("props"))
    val raw = s.read.parquet(Paths.get(t, "band-00.parquet").toString)
    assert(raw.columns.contains("props"),
      "DROP COLUMN must be metadata-only — the bytes stay until a rewrite")
    // added column: null for the old band, populated for the new one
    val byBand = snap.groupBy((col("event_id") < 500).as("old"))
      .agg(count(lit(1)).as("n"), count(col("tier")).as("tiered"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byBand(true)._2 == 0L, "pre-ADD band must null-fill tier")
    assert(byBand(false)._1 == byBand(false)._2, "post-ADD band must carry tier")
    // time travel: version 0 predates the evolution entirely
    val v0 = DeltaLog.snapshotAt(s, t, 0L)
    assert(v0.columns.contains("props") && !v0.columns.contains("tier"))
    // a re-added column under mapping gets a FRESH physical name — the
    // dropped bytes can never resurrect. Mutate a COPY: the staged
    // fixture is shared with q_delta_evolution.
    val copy = Paths.get(freshTable())
    Files.walk(Paths.get(t)).iterator.asScala.foreach { p =>
      val dst = copy.resolve(Paths.get(t).relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    DeltaLog.addColumn(s, copy.toString, "props", StringType)
    val readded = DeltaLog.snapshot(s, copy.toString)
    assert(readded.filter(col("props").isNotNull).count() == 0L,
      "re-added 'props' must be all-null, not the old bytes")
    // guards
    intercept[IllegalArgumentException](DeltaLog.addColumn(s, copy.toString, "tier", StringType))
    intercept[IllegalArgumentException](DeltaLog.dropColumn(s, copy.toString, "missing"))
  }

  test("Delta-only SET TBLPROPERTIES gates DV deletes under appendOnly") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = authorMapped("name")
    DeltaLog.setTableProperties(s, t, Map("delta.appendOnly" -> "true"))
    assert(DeltaLog.tableConfig(Paths.get(t))
      .get("delta.appendOnly").contains("true"))
    val e = intercept[RuntimeException](
      DeltaLog.deleteVectors(s, t, col("event_id") < 10))
    assert(e.getMessage.contains("appendOnly"), e.getMessage)
    // reads are untouched, and the property commit kept the mapping cfg
    assert(DeltaLog.snapshot(s, t).count() ==
      events.filter(col("event_id") < 300).count())
    assert(DeltaLog.tableConfig(Paths.get(t))
      .get("delta.columnMapping.mode").contains("name"))
  }

  test("shallow clone: zero data files, time travel, and independence from the source") {
    val s = spark
    import org.apache.spark.sql.functions._
    val src = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 300), src)
    TxLog.commitAppend(events.filter(col("event_id").between(300, 599)), src)
    val dst = freshTable()
    Files.delete(Paths.get(dst)); // shallowClone creates the tree
    DeltaLog.shallowClone(s, src, dst)
    // the clone is a LOG, not data: no parquet under the clone root
    val dataFiles = Files.walk(Paths.get(dst)).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(dataFiles == 0, s"shallow clone must copy zero data files, found $dataFiles")
    assert(DeltaLog.snapshot(s, dst).count() ==
      events.filter(col("event_id") < 600).count())
    // time-travel clone: the source at version 0 (first commit only)
    val dstV0 = freshTable()
    Files.delete(Paths.get(dstV0))
    DeltaLog.shallowClone(s, src, dstV0, version = Some(0L))
    assert(DeltaLog.snapshot(s, dstV0).count() ==
      events.filter(col("event_id") < 300).count())
    // independence: a DV delete on the clone hides rows there ONLY, and
    // vacuum on the clone cannot reach the source's files
    val srcCount = DeltaLog.snapshot(s, src).count()
    val r = DeltaLog.deleteVectors(s, dst, col("event_id") < 100)
    assert(r.rowsDeleted > 0)
    assert(DeltaLog.snapshot(s, dst).count() == srcCount - r.rowsDeleted)
    assert(DeltaLog.snapshot(s, src).count() == srcCount,
      "a clone-side delete must not touch the source")
    DeltaLog.vacuum(s, dst, retentionMs = 0L)
    assert(DeltaLog.snapshot(s, src).count() == srcCount,
      "clone vacuum must never delete source data")
  }

  test("shallow clone carries stats and deletion vectors (u-descriptors pinned absolute)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val src = DeltaLog.deltaRenamedTable(s, "/root/testdata/sf0.001")
    val dst = freshTable()
    Files.delete(Paths.get(dst))
    DeltaLog.shallowClone(s, src, dst)
    // carried stats: the clone's skip-scan prunes exactly like the source
    DeltaLog.skipScan(s, dst, Seq(("event_no", 450L, 700L))).collect()
    assert(DeltaLog.lastSkipScan == (3L, 1L), s"${DeltaLog.lastSkipScan}")
    // DV-bearing source (all three storageTypes): the clone must hide
    // exactly the same rows — u-descriptors rewrite to absolute "p"
    val dvSrc = DeltaLog.deltaDvTable(s, "/root/testdata/sf0.001")
    val dvDst = freshTable()
    Files.delete(Paths.get(dvDst))
    DeltaLog.shallowClone(s, dvSrc, dvDst)
    val srcRows = DeltaLog.snapshot(s, dvSrc)
    val dstRows = DeltaLog.snapshot(s, dvDst)
    assert(srcRows.count() == dstRows.count())
    assert(dstRows.exceptAll(srcRows).isEmpty && srcRows.exceptAll(dstRows).isEmpty)
  }

  test("auto-checkpoint fires at the Delta default cadence (every 10 versions)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val one = events.filter(col("event_id") === 1)
    (1 to 11).foreach(_ => TxLog.commitAppend(one, t))
    val ld = Paths.get(t, "_delta_log")
    assert(Files.exists(ld.resolve(f"${10L}%020d.checkpoint.parquet")),
      "the 11th commit (Delta version 10) must trigger the checkpoint")
    assert(mapper.readTree(Files.readString(ld.resolve("_last_checkpoint")))
      .get("version").asLong() == 10L)
    assert(DeltaLog.snapshot(s, t).count() == 11 * one.count())
  }

  // ------------------------------------------- v2 checkpoints (read)
  // The `v2Checkpoints` reader feature: a checkpoint named
  // `V.checkpoint.<uniqueId>.parquet` whose top-level file carries the
  // non-file actions plus `sidecar` rows naming parquet files under
  // `_delta_log/_sidecars/` that hold the add/remove actions. The
  // builder below converts the frozen golden v1 tree's CLASSIC
  // checkpoint into that layout, so the v2 read is pinned against the
  // same golden state both replay paths already verify.

  /** Copy the golden v1 tree and rewrite its classic checkpoint as a
    * v2 checkpoint: adds in one sidecar, removes in another, a
    * minReaderVersion-3 protocol advertising v2Checkpoints, and a
    * checkpointMetadata row. Returns the table dir. */
  private def goldenAsV2Checkpoint(): java.nio.file.Path = {
    val s = spark
    import org.apache.spark.sql.functions._
    val src = Paths.get("fixtures/golden_delta/v1")
    val dst = Files.createTempDirectory("golden_v2cp")
    Files.walk(src).iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val log = dst.resolve("_delta_log")
    val classic = log.resolve("00000000000000000002.checkpoint.parquet")
    val cp = s.read.parquet(classic.toString)
    val sidecarDir = Files.createDirectories(log.resolve("_sidecars"))
    def writeOne(df: org.apache.spark.sql.DataFrame,
        target: java.nio.file.Path): Unit = {
      val stage = Files.createTempDirectory("v2cp_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val sc1 = "adds-0001.parquet"
    val sc2 = "removes-0002.parquet"
    writeOne(cp.filter(col("add").isNotNull).select("add"),
      sidecarDir.resolve(sc1))
    writeOne(cp.filter(col("remove").isNotNull).select("remove"),
      sidecarDir.resolve(sc2))
    val nonFile = cp.filter(col("add").isNull && col("remove").isNull &&
      col("protocol").isNull)
    val proto = s.sql(
      """SELECT named_struct('minReaderVersion', 3, 'minWriterVersion', 7,
        |  'readerFeatures', array('v2Checkpoints'),
        |  'writerFeatures', array('v2Checkpoints')) AS protocol""".stripMargin)
    val sidecars = s.sql(
      s"""SELECT explode(array(
         |  named_struct('path', '$sc1', 'sizeInBytes', CAST(${Files.size(sidecarDir.resolve(sc1))} AS BIGINT)),
         |  named_struct('path', '$sc2', 'sizeInBytes', CAST(${Files.size(sidecarDir.resolve(sc2))} AS BIGINT)))) AS sidecar""".stripMargin)
    val cpMeta = s.sql(
      "SELECT named_struct('version', CAST(2 AS BIGINT)) AS checkpointMetadata")
    val top = nonFile.drop("add").drop("remove")
      .unionByName(proto, allowMissingColumns = true)
      .unionByName(sidecars, allowMissingColumns = true)
      .unionByName(cpMeta, allowMissingColumns = true)
    writeOne(top, log.resolve(
      "00000000000000000002.checkpoint.4f1e2d3c-0000-4000-8000-1234567890ab.parquet"))
    Files.delete(classic)
    dst
  }

  test("v2 checkpoint: golden tree converted to sidecar layout replays identically (both paths)") {
    val s = spark
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val expected = Seq((4L, "delta", 40.75), (5L, "epsilon", 50.5), (6L, "zeta", 60.125))
    val t = goldenAsV2Checkpoint().toString
    assert(rows(DeltaLog.snapshot(s, t)) == expected,
      "v2-checkpoint replay must equal the classic-checkpoint snapshot")
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      assert(rows(DeltaLog.snapshot(s, t)) == expected,
        "distributed reconstruction must expand sidecars identically")
    } finally DeltaLog.driverMaxLogBytes = saved
    // the JSON prefix is not needed: age it out, the v2 checkpoint alone answers
    (0L to 2L).foreach(v =>
      Files.deleteIfExists(Paths.get(t, "_delta_log", f"$v%020d.json")))
    DeltaLog.resetMetaCache(Paths.get(t))
    assert(rows(DeltaLog.snapshot(s, t)) == expected,
      "v2 checkpoint must answer alone once the JSON prefix ages out")
  }

  test("v2 checkpoint: a missing sidecar fails loudly, never a partial replay") {
    val s = spark
    val t = goldenAsV2Checkpoint()
    Files.delete(t.resolve("_delta_log").resolve("_sidecars").resolve("adds-0001.parquet"))
    DeltaLog.resetMetaCache(t)
    val e = intercept[RuntimeException](DeltaLog.snapshot(s, t.toString).collect())
    assert(e.getMessage.contains("sidecar"), e.getMessage)
  }

  test("v2 checkpoint WRITE: multi-sidecar round-trip equals the classic form (both replay paths)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    TxLog.commitAppend(ev.filter(col("event_id") < 300), t)
    TxLog.commitAppend(ev.filter(col("event_id").between(300, 599)), t)
    val want = DeltaLog.snapshot(s, t).agg(
      count(lit(1)), round(sum("value"), 2)).collect()(0)
    // force TWO sidecars, then age out the whole JSON prefix
    DeltaLog.checkpoint(s, t, parts = Some(2), v2 = true)
    (0L to 1L).foreach(v => Files.deleteIfExists(
      java.nio.file.Paths.get(t, "_delta_log", f"$v%020d.json")))
    DeltaLog.resetMetaCache(java.nio.file.Paths.get(t))
    val sidecars = java.nio.file.Files.list(
      java.nio.file.Paths.get(t, "_delta_log", "_sidecars"))
    val nSc = try sidecars.count() finally sidecars.close()
    assert(nSc == 2, s"expected 2 sidecar files, found $nSc")
    def got() = DeltaLog.snapshot(s, t).agg(
      count(lit(1)), round(sum("value"), 2)).collect()(0)
    assert(got() == want, "v2 round-trip must reproduce the snapshot")
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      assert(got() == want, "distributed replay must expand the sidecars too")
    } finally DeltaLog.driverMaxLogBytes = saved
    // the checkpoint's own protocol row advertises the feature
    val cp = java.nio.file.Files.list(java.nio.file.Paths.get(t, "_delta_log"))
    val v2cp = try cp.iterator.asScala.find(p =>
      p.getFileName.toString.contains(".checkpoint.") &&
      p.getFileName.toString.split("\\.").length == 4).get finally cp.close()
    val feats = s.read.parquet(v2cp.toString)
      .filter(col("protocol").isNotNull)
      .select("protocol.readerFeatures").collect()(0).getSeq[String](0)
    assert(feats.contains("v2Checkpoints"), feats.toString)
  }

  test("in-commit timestamps take precedence for timestamp time travel") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    TxLog.commitAppend(ev.filter(col("event_id") < 100), t)
    TxLog.commitAppend(ev.filter(col("event_id").between(100, 199)), t)
    // stamp DIVERGENT inCommitTimestamp values into both commits: far
    // in the past, so resolution provably reads them (wall-clock
    // `timestamp` and file mtimes are both ~now)
    (0L to 1L).foreach { v =>
      val p = Paths.get(t, "_delta_log", f"$v%020d.json")
      val lines = Files.readAllLines(p)
      val ict = 1000000000000L + v * 1000L
      val extra = s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},"inCommitTimestamp":$ict,"operation":"WRITE"}}"""
      Files.writeString(p, (Seq(extra) ++ lines.asScala).mkString("\n"))
    }
    assert(DeltaLog.versionAsOf(t, 1000000000500L) == 0L,
      "resolution must use inCommitTimestamp, not wall clock or mtime")
    assert(DeltaLog.versionAsOf(t, 1000000001500L) == 1L)
    assert(DeltaLog.snapshotAsOf(s, t, 1000000000500L).count() ==
      ev.filter(col("event_id") < 100).count())
    intercept[RuntimeException](DeltaLog.versionAsOf(t, 999999999999L))
  }

  test("merge-on-read DELETE: DV commit rewrites nothing, hides exactly the matched rows") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_dv_write").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t, Map("delta.enableDeletionVectors" -> "true"))
    val filesBefore = TxLog.snapshot(s, t).inputFiles.toSet
    val r = TxLog.deleteWhereDv(s, t, col("event_id") <= 300,
      Seq(("event_id", null, java.lang.Long.valueOf(300L))))
    // pure metadata commit: the data file set is EXACTLY the same
    assert(TxLog.snapshot(s, t).inputFiles.toSet == filesBefore,
      "a DV delete must not rewrite data files")
    assert(r.filesRewritten > 0 && r.filesSkipped > 0,
      s"prune hint must leave high-id files DV-free: $r")
    assert(TxLog.snapshot(s, t).count() ==
      ev.filter(col("event_id") > 300).count())
    // null-predicate rows survive + time travel un-hides (version 2 =
    // the property commit, pre-delete)
    assert(TxLog.snapshotAt(s, t, 2L).count() == ev.count())
    // a second, OVERLAPPING delete unions bitmaps on the shared files
    TxLog.deleteWhereDv(s, t, col("event_id").between(200L, 500L),
      Seq(("event_id", java.lang.Long.valueOf(200L), java.lang.Long.valueOf(500L))))
    assert(TxLog.snapshot(s, t).count() ==
      ev.filter(col("event_id") > 500).count())
    assert(TxLog.snapshot(s, t).inputFiles.toSet == filesBefore)
  }

  test("merge-on-read MERGE mirrors as DV remove/add pairs + batch adds + cdc") {
    val s = spark
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val ev = events
    val t = Files.createTempDirectory("graft_dv_merge_mirror").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)   // v1
    TxLog.setTableProperties(s, t, Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true"))                         // v2
    val source = ev.filter(col("event_id").between(100, 200))
      .withColumn("value", col("value") * 2)
      .unionByName(ev.filter(col("event_id") <= 50)
        .withColumn("event_id", col("event_id") + 900000L))
    TxLog.mergeIntoDv(s, t, source, Seq("event_id"))                   // v3
    // the mirror commit for v3 (delta version 2): every DV update is a
    // remove+add PAIR on the SAME path with add.deletionVector set, the
    // appended batch adds plain, cdc actions carry the typed rows
    val nodes = Files.readAllLines(
      java.nio.file.Paths.get(t, "_delta_log", f"${2L}%020d.json")).asScala
      .filter(_.trim.nonEmpty)
      .map(new com.fasterxml.jackson.databind.ObjectMapper().readTree(_))
    val removes = nodes.filter(_.has("remove"))
      .map(_.get("remove").get("path").asText()).toSet
    val dvAdds = nodes.filter(n => n.has("add") &&
      n.get("add").has("deletionVector"))
      .map(_.get("add").get("path").asText()).toSet
    val plainAdds = nodes.filter(n => n.has("add") &&
      !n.get("add").has("deletionVector"))
      .map(_.get("add").get("path").asText()).toSet
    val cdcs = nodes.filter(_.has("cdc"))
    assert(dvAdds.nonEmpty && dvAdds == removes,
      s"DV updates must mirror as same-path remove/add pairs: $removes vs $dvAdds")
    assert(plainAdds.nonEmpty, "the appended source batch must add plain")
    assert(plainAdds.intersect(dvAdds).isEmpty,
      "one path must never carry two adds in one version")
    assert(cdcs.nonEmpty, "CDF-enabled MERGE must mirror cdc actions")
    // the FOREIGN Delta reader (protocol gate + add.deletionVector) and
    // the engine agree row-for-row
    val expect = ev.withColumn("value",
      when(col("event_id").between(100, 200), col("value") * 2)
        .otherwise(col("value"))).count() + 51
    assert(TxLog.snapshot(s, t).count() == expect)
    assert(DeltaLog.snapshot(s, t).count() == expect)
    assert(DeltaLog.snapshot(s, t).agg(round(sum(col("value")), 2))
      .collect()(0).getDouble(0) ==
      TxLog.snapshot(s, t).agg(round(sum(col("value")), 2))
        .collect()(0).getDouble(0))
  }

  test("DV round-trip: the golden-fixture Delta reader hides the mirrored rows") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_dv_mirror").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t, Map("delta.enableDeletionVectors" -> "true"))
    TxLog.deleteWhereDv(s, t, col("event_id") <= 300)
    // the EXTERNAL Delta read path (protocol gate + add.deletionVector
    // application) must agree with the TxLog view
    assert(DeltaLog.snapshot(s, t).count() ==
      ev.filter(col("event_id") > 300).count())
    // and survive a checkpoint + aged-out JSON prefix
    (1 to 9).foreach(i => TxLog.commitAppend(
      ev.filter(col("event_id") === i).withColumn("event_id", col("event_id") + 100000L), t))
    DeltaLog.checkpoint(s, t)
    val ld = java.nio.file.Paths.get(t, "_delta_log")
    import scala.jdk.CollectionConverters._
    Files.list(ld).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(p => { Files.delete(p); () })
    DeltaLog.resetMetaCache(java.nio.file.Paths.get(t))
    assert(DeltaLog.snapshot(s, t).count() ==
      ev.filter(col("event_id") > 300).count() + 9,
      "DV descriptors must survive the checkpoint replay")
  }

  test("DV writes: feature gate, appendOnly, CDF and DSv2 refusals, OPTIMIZE materializes") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_dv_gates").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    // gate: no feature property -> refuse
    val e1 = intercept[RuntimeException](
      TxLog.deleteWhereDv(s, t, col("event_id") <= 10))
    assert(e1.getMessage.contains("enableDeletionVectors"), e1.getMessage)
    TxLog.setTableProperties(s, t, Map(
      "delta.enableDeletionVectors" -> "true", "delta.appendOnly" -> "true"))
    val e2 = intercept[RuntimeException](
      TxLog.deleteWhereDv(s, t, col("event_id") <= 10))
    assert(e2.getMessage.contains("appendOnly"), e2.getMessage)
    TxLog.setTableProperties(s, t, Map("delta.appendOnly" -> "false"))
    val vBefore = TxLog.currentVersion(t).get
    TxLog.deleteWhereDv(s, t, col("event_id") <= 300)
    val vAfter = TxLog.currentVersion(t).get
    // CDF across the DV commit refuses (added-files feed cannot express it)
    val e3 = intercept[RuntimeException](
      TxLog.changesBetween(s, t, vBefore, vAfter).count())
    assert(e3.getMessage.contains("deletion vectors"), e3.getMessage)
    // DSv2 batch scan hides the DV'd rows natively (row path + bitmap)
    assert(s.read.format("graft-txlog").option("path", t).load().count() ==
      ev.filter(col("event_id") > 300).count(),
      "the DSv2 scan must apply deletion vectors")
    // OPTIMIZE reads DV-filtered and MATERIALIZES the delete: rows
    // unchanged, DVs gone
    TxLog.optimize(s, t, smallBytes = Long.MaxValue)
    assert(TxLog.snapshot(s, t).count() ==
      ev.filter(col("event_id") > 300).count())
    assert(TxLog.readManifest(Paths.get(t), TxLog.currentVersion(t).get).dvs.isEmpty,
      "optimize must drop the DVs of the files it rewrites")
  }

  test("merge-on-read UPDATE: DVs hide old rows, one appended batch carries the new") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_dvu_write").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t, Map("delta.enableDeletionVectors" -> "true"))
    // a prior DV delete: its hidden rows sit INSIDE the update band and
    // must not resurrect as "updates"
    TxLog.deleteWhereDv(s, t, col("event_id") <= 200)
    val filesBefore = TxLog.snapshot(s, t).inputFiles.toSet
    val r = TxLog.updateWhereDv(s, t,
      col("event_id").between(101L, 400L),
      Map("value" -> (col("value") * 3)),
      Seq(("event_id", java.lang.Long.valueOf(101L),
        java.lang.Long.valueOf(400L))))
    assert(r.filesRewritten > 0 && r.filesSkipped > 0, r.toString)
    val filesAfter = TxLog.snapshot(s, t).inputFiles.toSet
    // merge-on-read: every pre-update file survives untouched; the only
    // new files are the single appended batch of re-written rows
    assert(filesBefore.subsetOf(filesAfter),
      "a DV update must not rewrite data files")
    val newBatches = (filesAfter -- filesBefore)
      .map(f => f.split("/").takeRight(2).head)
    assert(newBatches.size == 1,
      s"exactly one appended batch expected, got $newBatches")
    // row accounting: deleted rows stay dead, updated band re-valued
    val snap = TxLog.snapshot(s, t)
    assert(snap.count() == ev.filter(col("event_id") > 200).count())
    assert(snap.filter(col("event_id").between(101L, 200L)).count() == 0,
      "rows a DV already deleted must not resurrect as updates")
    val want = ev.filter(col("event_id").between(201L, 400L))
      .agg(round(sum(col("value") * 3), 2)).collect()(0).getDouble(0)
    val got = snap.filter(col("event_id").between(201L, 400L))
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
    assert(math.abs(got - want) < 1e-6, s"$got vs $want")
    // update-over-update: the second band overlaps the first's appended
    // batch, so the NEW rows' file gets a DV of its own
    TxLog.updateWhereDv(s, t, col("event_id").between(301L, 600L),
      Map("value" -> (col("value") + 1)))
    val snap2 = TxLog.snapshot(s, t)
    assert(snap2.count() == ev.filter(col("event_id") > 200).count(),
      "update-over-update must not change row count")
    val want2 = ev.filter(col("event_id").between(301L, 400L))
      .agg(round(sum(col("value") * 3 + 1), 2)).collect()(0).getDouble(0)
    val got2 = snap2.filter(col("event_id").between(301L, 400L))
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
    assert(math.abs(got2 - want2) < 1e-6, s"stacked assignments: $got2 vs $want2")
    // the external Delta reader agrees (remove/add DV pairs + added file)
    assert(DeltaLog.snapshot(s, t).count() == snap2.count())
    val ext = DeltaLog.snapshot(s, t)
      .filter(col("event_id").between(301L, 400L))
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
    assert(math.abs(ext - want2) < 1e-6, s"external Delta view: $ext vs $want2")
    // time travel un-applies: the pre-update version still reads old values
    val preUpdateV = 3L // 1 append, 2 properties, 3 delete
    assert(TxLog.snapshotAt(s, t, preUpdateV)
      .filter(col("event_id").between(201L, 400L))
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) !=
      got, "time travel must read pre-update values")
    // gates: appendOnly refuses UPDATE too
    TxLog.setTableProperties(s, t, Map("delta.appendOnly" -> "true"))
    val e = intercept[RuntimeException](TxLog.updateWhereDv(s, t,
      col("event_id") === 999L, Map("value" -> lit(0.0))))
    assert(e.getMessage.contains("appendOnly"), e.getMessage)
  }

  test("typed change feed: DV deletes/updates synthesize rows; rewrites refuse; OPTIMIZE silent") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_cdf_dv").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t, Map("delta.enableDeletionVectors" -> "true"))
    TxLog.deleteWhereDv(s, t, col("event_id") <= 300)           // v3
    TxLog.updateWhereDv(s, t, col("event_id").between(400L, 500L),
      Map("value" -> (col("value") + 10)))                      // v4
    val feed = TxLog.changeFeed(s, t, 2L, 4L)
    // delete rows carry the DELETED values, read from unchanged files
    val del = feed.filter(col("_change_type") === "delete")
    assert(del.count() == ev.filter(col("event_id") <= 300).count())
    assert(del.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      ev.filter(col("event_id") <= 300)
        .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    assert(del.select("_commit_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // update pre/post pair with matching cardinality, shifted values
    val pre = feed.filter(col("_change_type") === "update_preimage")
    val post = feed.filter(col("_change_type") === "update_postimage")
    assert(pre.count() == post.count() && pre.count() ==
      ev.filter(col("event_id").between(400L, 500L)).count())
    val dPre = pre.agg(sum(col("value"))).collect()(0).getDouble(0)
    val dPost = post.agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs((dPost - dPre) - 10.0 * pre.count()) < 1e-6)
    // an OPTIMIZE (dataChange=false) emits nothing...
    TxLog.optimize(s, t, smallBytes = Long.MaxValue)            // v5
    val v5 = TxLog.currentVersion(t).get
    assert(TxLog.changeFeed(s, t, 4L, v5).count() == 0,
      "compaction must not surface rows in the typed feed")
    // ...and a copy-on-write rewrite refuses loudly: with DVs off the
    // DELETE rewrites (existing DVs stay honoured)
    TxLog.setTableProperties(s, t,
      Map("delta.enableDeletionVectors" -> "false"))            // v6
    TxLog.deleteWhere(s, t, col("event_id") === 600L)           // v7
    val e = intercept[RuntimeException](
      TxLog.changeFeed(s, t, v5, v5 + 2).count())
    assert(e.getMessage.contains("copy-on-write"), e.getMessage)
  }

  test("protocol CDC: DML writes change-data files + cdc actions; tableChanges reads them back") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_cdc_files").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t, Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true"))
    TxLog.deleteWhereDv(s, t, col("event_id") <= 300)           // v3
    TxLog.updateWhereDv(s, t, col("event_id").between(400L, 500L),
      Map("value" -> (col("value") + 10)))                      // v4
    // the Delta commits carry cdc actions naming _change_data files
    def cdcActionsOf(deltaV: Long): Seq[String] =
      Files.readAllLines(Paths.get(t, "_delta_log", f"$deltaV%020d.json"))
        .asScala.filter(_.contains("\"cdc\"")).toSeq
    assert(cdcActionsOf(2L).nonEmpty, "DELETE commit must carry cdc actions")
    assert(cdcActionsOf(3L).nonEmpty, "UPDATE commit must carry cdc actions")
    assert(cdcActionsOf(2L).forall(_.contains("_change_data/")),
      cdcActionsOf(2L).toString)
    // the protocol advertises the changeDataFeed writer feature
    val proto = Files.readAllLines(
      Paths.get(t, "_delta_log", f"${2L}%020d.json")).asScala
      .find(_.contains("\"protocol\"")).getOrElse("")
    assert(proto.contains("changeDataFeed"), proto)
    // tableChanges (foreign path) agrees with changeFeed (DV synthesis)
    val ext = DeltaLog.tableChanges(s, t, 2L, 4L)
    val syn = TxLog.changeFeed(s, t, 2L, 4L)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("_change_type").agg(
        count(lit(1)).as("n"), round(sum(col("value")), 2).as("tv"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    assert(agg(ext) == agg(syn), s"${agg(ext)} vs ${agg(syn)}")
    // inserts derive from dataChange adds when a commit has no cdc
    TxLog.commitAppend(ev.filter(col("event_id") === 700L), t)  // v5
    val ins = DeltaLog.tableChanges(s, t, 4L, 5L)
    assert(ins.count() == 1 &&
      ins.select("_change_type").collect()(0).getString(0) == "insert")
    // a rows-changed commit WITHOUT cdc files refuses on read
    val bare = Files.createTempDirectory("graft_cdc_bare").toString
    TxLog.commitAppend(ev.repartitionByRange(2, col("event_id")), bare)
    TxLog.setTableProperties(s, bare, Map("delta.enableDeletionVectors" -> "true"))
    TxLog.deleteWhereDv(s, bare, col("event_id") <= 100)
    val e = intercept[RuntimeException](
      DeltaLog.tableChanges(s, bare, 2L, 3L).count())
    assert(e.getMessage.contains("change-data"), e.getMessage)
  }

  test("in-commit timestamps: enabled commits write monotonic icts + the writer feature") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_ict_write").toString
    TxLog.commitAppend(ev.filter(col("event_id") < 100), t)        // v1: no ict
    TxLog.setTableProperties(s, t,
      Map("delta.enableInCommitTimestamps" -> "true"))             // v2: ict on
    TxLog.commitAppend(ev.filter(col("event_id").between(100, 199)), t) // v3
    TxLog.commitAppend(ev.filter(col("event_id").between(200, 299)), t) // v4
    def ictOf(deltaV: Long): Option[Long] =
      Files.readAllLines(Paths.get(t, "_delta_log", f"$deltaV%020d.json"))
        .asScala.map(l => new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(l))
        .collectFirst { case n if n.has("commitInfo") &&
            n.get("commitInfo").has("inCommitTimestamp") =>
          n.get("commitInfo").get("inCommitTimestamp").asLong() }
    assert(ictOf(0L).isEmpty, "pre-enablement commits carry no ict")
    val icts = Seq(ictOf(1L), ictOf(2L), ictOf(3L))
    assert(icts.forall(_.isDefined), s"post-enablement commits need icts: $icts")
    assert(icts.flatten == icts.flatten.sorted &&
      icts.flatten.distinct == icts.flatten,
      s"icts must be strictly monotonic: $icts")
    // protocol advertises the writer feature on ict commits
    val proto = Files.readAllLines(
      Paths.get(t, "_delta_log", f"${2L}%020d.json")).asScala
      .find(_.contains("\"protocol\"")).getOrElse("")
    assert(proto.contains("inCommitTimestamp"), proto)
    // enabling ICT on an EXISTING table records the enablement version
    // + timestamp properties (spec: readers use them to know below
    // which version mtimes, not icts, order the history)
    val cfg = DeltaLog.tableConfig(Paths.get(t))
    assert(cfg.get("delta.inCommitTimestampEnablementVersion").contains("1"),
      s"enablement version must be the enabling commit's: $cfg")
    assert(cfg.get("delta.inCommitTimestampEnablementTimestamp")
      .contains(ictOf(1L).get.toString),
      s"enablement timestamp must equal the enabling commit's ict: $cfg")
    // the AS-OF resolver (which prefers icts) round-trips engine writes
    assert(DeltaLog.versionAsOf(t, icts(1).get) == 2L)
    assert(DeltaLog.versionAsOf(t, icts(2).get - 1) == 2L)
  }

  test("protocol CDC: copy-on-write DELETE/UPDATE write change-data files too") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_cdc_cow").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t,
      Map("delta.enableChangeDataFeed" -> "true")) // NO deletion vectors
    TxLog.deleteWhere(s, t, col("event_id") <= 300)            // v3, CoW
    TxLog.updateWhere(s, t, col("event_id").between(400L, 500L),
      Map("value" -> (col("value") + 10)))                     // v4, CoW
    val feed = DeltaLog.tableChanges(s, t, 2L, 4L)
    val del = feed.filter(col("_change_type") === "delete")
    assert(del.count() == ev.filter(col("event_id") <= 300).count())
    assert(del.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      ev.filter(col("event_id") <= 300)
        .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    val pre = feed.filter(col("_change_type") === "update_preimage")
    val post = feed.filter(col("_change_type") === "update_postimage")
    assert(pre.count() == post.count() && pre.count() ==
      ev.filter(col("event_id").between(400L, 500L)).count())
    val dPre = pre.agg(sum(col("value"))).collect()(0).getDouble(0)
    val dPost = post.agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs((dPost - dPre) - 10.0 * pre.count()) < 1e-6)
    // the rewritten-but-unchanged survivor rows do NOT appear in the feed
    assert(feed.filter(col("event_id") > 500).count() == 0,
      "CoW CDC must carry only the changed rows, not the rewritten files")
    // a whole-row MERGE (the upsert clause list) types its rows too:
    // the matched band's pre- and postimages, no inserts or deletes
    val srcDf = ev.filter(col("event_id").between(600L, 610L))
      .withColumn("value", col("value") * 100)
    TxLog.mergeInto(s, t, srcDf, Seq("event_id"))               // v5
    val mFeed = DeltaLog.tableChanges(s, t, 4L, 5L)
    val band = ev.filter(col("event_id").between(600L, 610L)).count()
    val mPre = mFeed.filter(col("_change_type") === "update_preimage")
    val mPost = mFeed.filter(col("_change_type") === "update_postimage")
    assert(band > 0 && mPre.count() == band && mPost.count() == band)
    assert(mFeed.filter(col("_change_type").isin("insert", "delete"))
      .count() == 0)
    val mPreSum = mPre.agg(sum(col("value"))).collect()(0).getDouble(0)
    val mPostSum = mPost.agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(math.abs(mPostSum - 100 * mPreSum) < 1e-6, s"$mPostSum vs $mPreSum")
  }

  test("protocol replay is newest-wins: a later cdc-only commit must not downgrade the DV gate") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_proto_merge").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t, Map("delta.enableDeletionVectors" -> "true"))
    TxLog.deleteWhereDv(s, t, col("event_id") <= 300)           // v3: DV gate up
    TxLog.setTableProperties(s, t, Map("delta.enableChangeDataFeed" -> "true",
      "delta.enableDeletionVectors" -> "false"))
    // v5: copy-on-write delete with CDF — a cdc-carrying commit with NO
    // dvUpdates, while untouched files still carry live DVs
    TxLog.deleteWhere(s, t, col("event_id").between(900L, 910L))
    def newestProto(table: String): com.fasterxml.jackson.databind.JsonNode = {
      val ld = Paths.get(table, "_delta_log")
      val vs = Files.list(ld).iterator.asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && n.takeWhile(_ != '.').forall(_.isDigit))
        .map(_.takeWhile(_ != '.').toLong).toSeq.sorted.reverse
      vs.iterator.flatMap(v => actions(table, v)
        .flatMap(n => Option(n.get("protocol"))).lastOption).next()
    }
    val p = newestProto(t)
    assert(p.get("minReaderVersion").asInt() == 3,
      s"cdc-only commit downgraded the reader gate: $p")
    def feats(k: String) = Option(p.get(k))
      .map(_.asScala.map(_.asText()).toSet).getOrElse(Set.empty[String])
    assert(feats("readerFeatures").contains("deletionVectors"), s"$p")
    assert(feats("writerFeatures").contains("deletionVectors"), s"$p")
    assert(feats("writerFeatures").contains("changeDataFeed"), s"$p")
    // writer 7 enforces ONLY listed features: the legacy base (writer 2)
    // implied set must be carried explicitly
    assert(Set("appendOnly", "invariants").subsetOf(feats("writerFeatures")),
      s"legacy implied writer features lost in the upgrade: $p")
    // and the table still reads correctly through the external path
    assert(DeltaLog.snapshot(s, t).count() ==
      ev.filter(col("event_id") > 300 &&
        !col("event_id").between(900L, 910L)).count())
  }

  test("protocol merge carries property-driven features and survives a compacted prefix") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_proto_cp").toString
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t, Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.constraints.idBound" -> "event_id < 10000000"))
    TxLog.deleteWhereDv(s, t, col("event_id") <= 100)           // v3: DV + gate
    // checkpoint, then age out the whole JSON prefix (including every
    // protocol-carrying commit) — the next feature commit must recover
    // the gate from the checkpoint, not fall back to base (1,2)
    DeltaLog.checkpoint(s, t)
    val ld = Paths.get(t, "_delta_log")
    Files.list(ld).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(Files.delete)
    DeltaLog.resetMetaCache(Paths.get(t))
    TxLog.resetMirrorCache()
    TxLog.setTableProperties(s, t, Map("delta.enableChangeDataFeed" -> "true",
      "delta.enableDeletionVectors" -> "false"))
    TxLog.deleteWhere(s, t, col("event_id").between(200L, 210L)) // cdc commit
    val tail = Files.list(ld).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && n.takeWhile(_ != '.').forall(_.isDigit))
      .map(_.takeWhile(_ != '.').toLong).toSeq.sorted.reverse
    val p = tail.iterator.flatMap(v => actions(t, v)
      .flatMap(n => Option(n.get("protocol"))).lastOption).next()
    def feats(k: String) = Option(p.get(k))
      .map(_.asScala.map(_.asText()).toSet).getOrElse(Set.empty[String])
    assert(p.get("minReaderVersion").asInt() == 3, s"$p")
    assert(feats("readerFeatures").contains("deletionVectors"), s"$p")
    // in-force CHECK constraint gates foreign writers explicitly on writer 7
    assert(feats("writerFeatures").contains("checkConstraints"), s"$p")
    assert(DeltaLog.snapshot(s, t).count() ==
      ev.filter(col("event_id") > 100 &&
        !col("event_id").between(200L, 210L)).count())
  }

  test("protocol invariant fuzz: the DV gate survives any DML interleaving") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val rnd = new scala.util.Random(20260815L)
    val t = Files.createTempDirectory("graft_proto_fuzz").toString
    TxLog.commitAppend(ev.filter(col("event_id") < 500).repartition(2), t)
    TxLog.setTableProperties(s, t, Map("delta.enableDeletionVectors" -> "true"))
    var nextId = 1000000L
    var dvGateUp = false
    def newestProto(): Option[com.fasterxml.jackson.databind.JsonNode] = {
      val ld = Paths.get(t, "_delta_log")
      val vs = Files.list(ld).iterator.asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && n.takeWhile(_ != '.').forall(_.isDigit))
        .map(_.takeWhile(_ != '.').toLong).toSeq.sorted.reverse
      vs.iterator.flatMap(v => actions(t, v)
        .flatMap(n => Option(n.get("protocol"))).lastOption).nextOption()
    }
    for (i <- 1 to 16) {
      rnd.nextInt(8) match {
        case 0 => // append fresh rows
          TxLog.commitAppend(ev.limit(20)
            .withColumn("event_id", col("event_id") + nextId), t)
          nextId += 10000L
        case 1 => // merge-on-read delete: raises the gate
          TxLog.setTableProperties(s, t,
            Map("delta.enableDeletionVectors" -> "true"))
          TxLog.deleteWhereDv(s, t,
            pmod(col("event_id"), lit(97)) === lit(rnd.nextInt(97)))
          dvGateUp = true
        case 2 => // copy-on-write delete (cdc-carrying once CDF is on)
          TxLog.setTableProperties(s, t,
            Map("delta.enableDeletionVectors" -> "false"))
          TxLog.deleteWhere(s, t,
            pmod(col("event_id"), lit(101)) === lit(rnd.nextInt(101)))
        case 3 =>
          TxLog.setTableProperties(s, t,
            Map("delta.enableChangeDataFeed" -> "true"))
        case 4 =>
          TxLog.optimize(s, t); ()
        case 5 =>
          DeltaLog.checkpoint(s, t)
        case 6 => // committer crash: newest mirror vanishes, next commit backfills
          val ld = Paths.get(t, "_delta_log")
          Files.list(ld).iterator.asScala.map(_.getFileName.toString)
            .filter(n => n.endsWith(".json") && n.takeWhile(_ != '.').forall(_.isDigit))
            .map(_.takeWhile(_ != '.').toLong).maxOption.foreach { v =>
              Files.delete(ld.resolve(f"$v%020d.json"))
              DeltaLog.resetMetaCache(Paths.get(t))
              TxLog.resetMirrorCache()
            }
          TxLog.commitAppend(ev.limit(5)
            .withColumn("event_id", col("event_id") + nextId), t)
          nextId += 10000L
        case 7 => // RESTORE to a random earlier version: DV state rolls
          // back (re-instated, changed, or dropped), protocol must not
          val cur = TxLog.currentVersion(t).get
          TxLog.restoreTo(s, t, 1L + rnd.nextInt(cur.toInt).toLong)
          ()
      }
      // THE invariant: protocol upgrades are permanent. Once a DV commit
      // raised reader 3 / deletionVectors, no later commit — cdc-only,
      // property-only, OPTIMIZE, backfill — may downgrade it while DV
      // history is live; and on writer 7 the legacy implied features
      // must stay listed (they are all a foreign writer enforces).
      val p = newestProto().getOrElse(fail(s"no protocol after op $i"))
      def feats(k: String) = Option(p.get(k))
        .map(_.asScala.map(_.asText()).toSet).getOrElse(Set.empty[String])
      if (dvGateUp) {
        assert(p.get("minReaderVersion").asInt() == 3,
          s"op $i downgraded the reader gate: $p")
        assert(feats("readerFeatures").contains("deletionVectors") &&
          feats("writerFeatures").contains("deletionVectors"),
          s"op $i dropped the deletionVectors feature: $p")
      }
      if (Option(p.get("minWriterVersion")).exists(_.asInt() == 7))
        assert(Set("appendOnly", "invariants").subsetOf(feats("writerFeatures")),
          s"op $i lost the legacy implied writer features: $p")
    }
    // the full table still replays through the external Delta path
    assert(DeltaLog.snapshot(s, t).count() == TxLog.snapshot(s, t).count())
  }

  test("row tracking mirrors as baseRowId adds + delta.rowTracking domain metadata") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_rid_mirror").toString
    TxLog.commitAppend(ev.limit(0), t)
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    TxLog.commitAppend(ev.filter(col("event_id") <= 300)
      .repartitionByRange(3, col("event_id")), t)          // v3: 3 files
    val n1 = ev.filter(col("event_id") <= 300).count()
    // the data commit's mirror: every add carries baseRowId +
    // defaultRowCommitVersion, spans are disjoint, and the commit's
    // domainMetadata advances the high-water mark
    val a2 = actions(t, 2L)
    val adds = a2.flatMap(n => Option(n.get("add")))
    assert(adds.nonEmpty && adds.forall(a =>
      a.has("baseRowId") && a.get("defaultRowCommitVersion").asLong() == 2L),
      s"adds must carry row-tracking fields: $adds")
    val spans = adds.map(a => a.get("baseRowId").asLong()).sorted
    assert(spans.head == 0L, s"fresh ids start at 0: $spans")
    val dm = a2.flatMap(n => Option(n.get("domainMetadata")))
    assert(dm.exists(d => d.get("domain").asText() == "delta.rowTracking" &&
      d.get("configuration").asText().contains(s""""rowIdHighWaterMark":${n1 - 1}""")),
      s"hwm domain action missing: $dm")
    assert(DeltaLog.domainMetadataMap(s, t)
      .get("delta.rowTracking").exists(_.contains((n1 - 1).toString)))
    // protocol gates writers on both features
    val proto = a2.find(_.has("protocol")).map(_.toString)
      .orElse(actions(t, 1L).find(_.has("protocol")).map(_.toString))
      .getOrElse("")
    assert(proto.contains("rowTracking") && proto.contains("domainMetadata"),
      proto)
    // DV delete: the re-added file keeps its ORIGINAL base + version
    TxLog.deleteWhereDv(s, t, col("event_id") <= 50,
      Seq(("event_id", null, java.lang.Long.valueOf(50L))))
    val a3 = actions(t, 3L)
    val reAdd = a3.filter(n => n.has("add") &&
      n.get("add").has("deletionVector")).map(_.get("add"))
    assert(reAdd.nonEmpty && reAdd.forall(a =>
      a.has("baseRowId") && a.get("defaultRowCommitVersion").asLong() == 2L),
      s"DV re-adds must preserve original row-tracking fields: $reAdd")
    // checkpoint + aged-out prefix: ids and the hwm survive compaction
    DeltaLog.checkpoint(s, t)
    val ld = Paths.get(t, "_delta_log")
    Files.list(ld).iterator.asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(Files.delete)
    DeltaLog.resetMetaCache(Paths.get(t))
    TxLog.resetMirrorCache()
    assert(DeltaLog.domainMetadataMap(s, t)
      .get("delta.rowTracking").exists(_.contains((n1 - 1).toString)),
      "hwm must survive into the checkpoint")
    val cp = spark.read.parquet(
      Files.list(ld).iterator.asScala
        .find(_.getFileName.toString.endsWith(".checkpoint.parquet")).get.toString)
    val cpAdds = cp.filter(col("add").isNotNull)
      .select(col("add.baseRowId"),
        get_json_object(col("add.stats"), "$.numRecords").cast("long"))
      .collect()
    assert(cpAdds.count(!_.isNullAt(0)) >= 3,
      s"checkpointed adds must keep baseRowId: ${cpAdds.mkString(",")}")
    // the only untracked file is the zero-row schema-bootstrap batch
    cpAdds.filter(_.isNullAt(0)).foreach(r =>
      assert(!r.isNullAt(1) && r.getLong(1) == 0L,
        s"a row-carrying file lost its baseRowId in the checkpoint: $r"))
    // and the engine still reads correct ids through the manifests
    assert(TxLog.snapshotWithRowIds(s, t)
      .agg(org.apache.spark.sql.functions.max(col("_row_id")))
      .collect()(0).getLong(0) == n1 - 1)
    // FOREIGN path: the Delta-log-only reader (checkpointed baseRowId +
    // DV descriptors, no manifests consulted) computes the SAME ids
    val viaLog = DeltaLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaManifest = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLog == viaManifest,
      "log-replay ids must equal manifest-derived ids")
  }

  test("shallow clone preserves row ids: baseRowId adds + the rowTracking domain") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_rid_clone_src").toString
    TxLog.commitAppend(ev.limit(0), t)
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    TxLog.commitAppend(ev.filter(col("event_id") <= 300)
      .coalesce(1).sortWithinPartitions("event_id"), t)
    TxLog.deleteWhereDv(s, t, pmod(col("event_id"), lit(4)) === 0)
    TxLog.optimize(s, t) // materialized ids in the packed files
    val srcIds = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dst = Files.createTempDirectory("graft_rid_clone").toString + "/c"
    DeltaLog.shallowClone(s, t, dst)
    val cloneIds = DeltaLog.snapshotWithRowIds(s, dst)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cloneIds == srcIds, "a clone's stable row ids must equal the source's")
    assert(DeltaLog.domainMetadataMap(s, dst).contains("delta.rowTracking"),
      "the id high-water mark must clone — a clone-side writer must not reissue ids")
  }

  test("row-id reads compose with column mapping (rename upgrade, name mode)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    // pure-Delta-log row-tracked table (renameColumn refuses TxLog
    // mirrors — the manifest cannot represent logical renames): two
    // single-file adds with baseRowIds, authored via mirrorCommit
    val t = freshTable()
    val root = Paths.get(t)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val tmp = Files.createTempDirectory("graft_rid_cmap_stage")
      df.coalesce(1).sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      Files.move(part, root.resolve(name))
      df.count()
    }
    val n1 = land(ev.filter(col("event_id") <= 200), "f1.parquet")
    val n2 = land(ev.filter(col("event_id").between(201, 260)), "f2.parquet")
    DeltaLog.mirrorCommit(root, 1L, Seq("f1.parquet"), Seq.empty,
      ev.schema.json,
      props = Map("delta.enableRowTracking" -> "true",
        "delta.rowTracking.materializedRowIdColumnName" -> "_row-id-col-t"),
      rowIds = Map("f1.parquet" -> ((0L, 0L))),
      domains = Map("delta.rowTracking" ->
        s"""{"rowIdHighWaterMark":${n1 - 1}}"""))
    DeltaLog.mirrorCommit(root, 2L, Seq("f2.parquet"), Seq.empty,
      ev.schema.json,
      rowIds = Map("f2.parquet" -> ((n1, 1L))),
      domains = Map("delta.rowTracking" ->
        s"""{"rowIdHighWaterMark":${n1 + n2 - 1}}"""))
    val pre = DeltaLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pre.size == n1 + n2 && pre.values.toSeq.distinct.size == pre.size)
    // RENAME upgrades the table to column mapping (physical names
    // frozen at the current names); the foreign row-id reader must now
    // resolve physically and relabel — ids unchanged, renamed column
    // visible under its NEW logical name
    DeltaLog.renameColumn(s, t, "value", "amount")
    val mapped = DeltaLog.snapshotWithRowIds(s, t)
    assert(mapped.columns.contains("amount") &&
      !mapped.columns.contains("value"))
    val post = mapped.select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(post == pre, "mapping upgrade must not move any row id")
    // values still read correctly through the relabel
    assert(mapped.agg(round(sum(col("amount")), 2)).collect()(0).getDouble(0) ==
      ev.filter(col("event_id") <= 260)
        .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
  }

  test("row-id reads compose with column mapping on a HIVE-PARTITIONED layout") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events.filter(col("event_id") < 300)
      .withColumn("bucket", pmod(col("event_id"), lit(3)))
    val t = freshTable()
    val root = Paths.get(t)
    // three hive-partition files, each sorted by event_id so the row
    // index is the sort position; bucket=2's file carries MATERIALIZED
    // ids (base + pos + 1000 — deliberately ≠ the fresh base+pos, the
    // shape an OPTIMIZE rewrite leaves) under the configured column name
    val matOff = 1000L
    var nextBase = 0L
    var expected = Map.empty[Long, Long] // event_id -> _row_id
    val landed = (0 to 2).map { b =>
      val slice = ev.filter(col("bucket") === b).drop("bucket")
        .coalesce(1).sortWithinPartitions("event_id")
      val df = if (b == 2)
        slice.withColumn("_rid_mat",
          monotonically_increasing_id() + lit(matOff + nextBase))
      else slice
      val tmp = Files.createTempDirectory("graft_rid_cmap_part")
      df.write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val rel = s"bucket=$b/f$b.parquet"
      Files.createDirectories(root.resolve(s"bucket=$b"))
      Files.move(part, root.resolve(rel))
      val ids = ev.filter(col("bucket") === b).orderBy("event_id")
        .select("event_id").collect().map(_.getLong(0))
      val base = nextBase
      ids.zipWithIndex.foreach { case (e, i) =>
        expected += e -> (if (b == 2) matOff + base + i else base + i)
      }
      nextBase += ids.length
      (rel, base)
    }
    DeltaLog.mirrorCommit(root, 1L, landed.map(_._1), Seq.empty,
      ev.schema.json,
      props = Map("delta.enableRowTracking" -> "true",
        "delta.rowTracking.materializedRowIdColumnName" -> "_rid_mat"),
      rowIds = landed.map { case (rel, base) => rel -> ((base, 0L)) }.toMap,
      domains = Map("delta.rowTracking" ->
        s"""{"rowIdHighWaterMark":${matOff + nextBase - 1}}"""))
    val pre = DeltaLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pre == expected,
      "partitioned fresh + materialized ids must read value-exactly")
    // RENAME of a data column upgrades the table to column mapping —
    // partitioned row-id reads must now resolve physically and relabel
    DeltaLog.renameColumn(s, t, "value", "amount")
    val mapped = DeltaLog.snapshotWithRowIds(s, t)
    assert(mapped.columns.contains("amount") && !mapped.columns.contains("value"))
    assert(mapped.select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expected,
      "mapping upgrade must not move any row id")
    assert(mapped.agg(round(sum(col("amount")), 2)).collect()(0).getDouble(0) ==
      ev.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    // and the PARTITION column renames too: dirs stay physical
    // (`bucket=`), the read attaches the NEW logical name
    DeltaLog.renameColumn(s, t, "bucket", "pocket")
    val renamed = DeltaLog.snapshotWithRowIds(s, t)
    assert(renamed.columns.contains("pocket") && !renamed.columns.contains("bucket"))
    assert(renamed.filter(col("pocket") =!= pmod(col("event_id"), lit(3)))
      .isEmpty, "partition values must survive the partition-column rename")
    assert(renamed.select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    // scale path intact: a predicate on the renamed partition column
    // prunes DIRECTORIES in the scan (discovery under the physical name)
    val plan = renamed.filter(col("pocket") === 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"partition filter must reach the scan:\n$plan")
  }

  test("row-id reads of a NON-HIVE partitioned layout take partition values from the log") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events.filter(col("event_id") < 300)
      .withColumn("bucket", pmod(col("event_id"), lit(3)))
    val t = freshTable()
    val root = Paths.get(t)
    // opaque blob dirs — partition values exist ONLY in the log, so the
    // read must route to the grouped-literal fallback (a basePath read
    // would silently null-fill the partition column)
    var nextBase = 0L
    var expected = Map.empty[Long, Long]
    val landed = (0 to 2).map { b =>
      ev.filter(col("bucket") === b).drop("bucket")
        .coalesce(1).sortWithinPartitions("event_id")
        .write.mode("overwrite").parquet(s"$t/blob$b")
      val rel = Files.list(root.resolve(s"blob$b")).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
        .getFileName.toString match { case f => s"blob$b/$f" }
      val ids = ev.filter(col("bucket") === b).orderBy("event_id")
        .select("event_id").collect().map(_.getLong(0))
      val base = nextBase
      ids.zipWithIndex.foreach { case (e, i) => expected += e -> (base + i) }
      nextBase += ids.length
      (rel, b, base)
    }
    val ld = Files.createDirectories(root.resolve("_delta_log"))
    val metaLine = {
      val n = mapper.createObjectNode()
      val m = n.putObject("metaData")
      m.put("id", "rid-nonhive")
      val fmt = m.putObject("format"); fmt.put("provider", "parquet"); fmt.putObject("options")
      m.put("schemaString", ev.schema.json)
      m.putArray("partitionColumns").add("bucket")
      m.putObject("configuration").put("delta.enableRowTracking", "true")
      m.put("createdTime", 3L)
      mapper.writeValueAsString(n)
    }
    val addLines = landed.map { case (rel, b, base) =>
      val n = mapper.createObjectNode()
      val a = n.putObject("add")
      a.put("path", rel)
      a.putObject("partitionValues").put("bucket", b.toString)
      a.put("size", Files.size(root.resolve(rel)))
      a.put("modificationTime", 1L)
      a.put("dataChange", true)
      a.put("baseRowId", base)
      a.put("defaultRowCommitVersion", 0L)
      mapper.writeValueAsString(n)
    }
    Files.writeString(ld.resolve(f"${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaLine) ++ addLines).mkString("\n"))
    val snap = DeltaLog.snapshotWithRowIds(s, t)
    assert(snap.schema("bucket").dataType ==
      org.apache.spark.sql.types.LongType,
      "partition column must be typed from schemaString")
    assert(snap.filter(col("bucket").isNull).isEmpty,
      "log-only partition values must attach, never null-fill")
    assert(snap.filter(col("bucket") =!= pmod(col("event_id"), lit(3))).isEmpty)
    assert(snap.select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }

  test("shallow clone of a HIVE-PARTITIONED row-tracked table reads row ids") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    // partitioned + row-tracked source: the clone log stores ABSOLUTE
    // file: URIs, so the foreign reader's hive detection and basePath
    // grouping must key on the RESOLVED path's parent chain — a raw
    // rel-string split would group everything under the bogus "file:"
    // segment and fail the read
    val t = Files.createTempDirectory("graft_rid_pclone_src").toString
    TxLog.commitAppend(ev.limit(0)
      .withColumn("bucket", pmod(col("event_id"), lit(3))), t,
      partitionBy = Seq("bucket"))
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    TxLog.commitAppend(ev.filter(col("event_id") <= 300)
      .withColumn("bucket", pmod(col("event_id"), lit(3))), t,
      partitionBy = Seq("bucket"))
    TxLog.deleteWhereDv(s, t, pmod(col("event_id"), lit(4)) === 0)
    val srcIds = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dst = Files.createTempDirectory("graft_rid_pclone").toString + "/c"
    DeltaLog.shallowClone(s, t, dst)
    val clone = DeltaLog.snapshotWithRowIds(s, dst)
    // partition column survives the absolute-URI read alongside the ids
    assert(clone.select(countDistinct(col("bucket"))).collect()(0).getLong(0) == 3)
    val cloneIds = clone
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cloneIds == srcIds,
      "a partitioned clone's stable row ids must equal the source's")
  }

  test("backfilled ICT commits stamp the manifest mtime, not re-mirror wall clock") {
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = events
    val t = Files.createTempDirectory("graft_ict_backfill").toString
    TxLog.commitAppend(ev.filter(col("event_id") < 100), t)          // v1
    TxLog.setTableProperties(s, t,
      Map("delta.enableInCommitTimestamps" -> "true"))               // v2
    TxLog.commitAppend(ev.filter(col("event_id").between(100, 199)), t) // v3
    // the committer "dies" after linking manifest v3: its mirror vanishes
    Files.delete(Paths.get(t, "_delta_log", f"${2L}%020d.json"))
    DeltaLog.resetMetaCache(Paths.get(t))
    TxLog.resetMirrorCache()
    // pin manifest v3's mtime to a known historical instant AFTER v2's
    // live ict (so the monotonic clamp is not what we end up measuring)
    val prevIct = Files.readAllLines(Paths.get(t, "_delta_log", f"${1L}%020d.json"))
      .asScala.map(mapper.readTree)
      .collectFirst { case n if n.has("commitInfo") &&
          n.get("commitInfo").has("inCommitTimestamp") =>
        n.get("commitInfo").get("inCommitTimestamp").asLong() }.get
    val histT = prevIct + 60000L
    Files.setLastModifiedTime(Paths.get(t, "_txlog", f"v${3L}%08d.manifest"),
      java.nio.file.attribute.FileTime.fromMillis(histT))
    TxLog.commitAppend(ev.filter(col("event_id").between(200, 299)), t) // v4 + backfill v3
    val backIct = Files.readAllLines(Paths.get(t, "_delta_log", f"${2L}%020d.json"))
      .asScala.map(mapper.readTree)
      .collectFirst { case n if n.has("commitInfo") &&
          n.get("commitInfo").has("inCommitTimestamp") =>
        n.get("commitInfo").get("inCommitTimestamp").asLong() }
    assert(backIct.contains(histT),
      s"backfilled ict must equal the manifest mtime $histT, got $backIct")
    // AS-OF through the backfilled version resolves historically
    assert(DeltaLog.versionAsOf(t, histT) == 2L)
  }
}
