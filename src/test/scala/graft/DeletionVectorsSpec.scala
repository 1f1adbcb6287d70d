package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{DeletionVectors => DV, DeltaLog}

/** Deletion-vector protocol semantics: Z85 codec, portable roaring
  * bitmaps, the DV file wrapper, and end-to-end DV-table reads.
  */
class DeletionVectorsSpec extends SparkSpec {

  private def events = Tables.events(spark, "/root/testdata/sf0.001")

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).forEach { f =>
      val dst = to.resolve(f.getFileName.toString)
      if (Files.isDirectory(f)) copyTree(f, dst) else { Files.copy(f, dst); () }
    }
  }

  test("z85 matches the ZeroMQ reference vector and round-trips padding") {
    // RFC 32 test case: 86 4F D2 6F B5 59 F7 5B <-> "HelloWorld"
    val ref = Array(0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B).map(_.toByte)
    assert(DV.z85Encode(ref) == "HelloWorld")
    assert(DV.z85Decode("HelloWorld", 8).toSeq == ref.toSeq)
    // padding: every tail length decodes back to the exact input
    (1 to 9).foreach { n =>
      val in = Array.tabulate(n)(i => ((i * 37 + 11) & 0xFF).toByte)
      assert(DV.z85Decode(DV.z85Encode(in), n).toSeq == in.toSeq,
        s"padding round-trip failed at length $n")
    }
  }

  test("roaring round trip: array, bitmap containers, multi-bitmap highs") {
    val values: Seq[Long] =
      Seq(0L, 1L, 65535L, 65536L, 131072L + 7,       // two keys + third key
        (1L << 32) + 42, (1L << 32) + 99,             // second 32-bit bitmap
        (3L << 32) + 5) ++                            // fourth (index gap)
        (0 until 5000).map(i => (2L << 16) + i * 2L)  // bitmap container (card>4096)
    val parsed = DV.parse(DV.serialize(values))
    val set = values.toSet
    values.foreach(v => assert(parsed.contains(v), s"missing $v"))
    Seq(2L, 65534L, 65537L, (1L << 32) + 43, (2L << 32) + 1,
      (3L << 32) + 6, (2L << 16) + 1).foreach(v =>
      assert(set.contains(v) || !parsed.contains(v), s"phantom $v"))
    assert(parsed.cardinality == set.size.toLong)
  }

  test("roaring parse of hand-built portable bytes (independent of our writer)") {
    // one 32-bit bitmap, one ARRAY container: key=0, values {3, 7}
    // layout per RoaringFormatSpec: cookie 12346 | count 1 | desc (key,card-1)
    // | offset header | 2 shorts — all little-endian; array prefix is the
    // delta RoaringBitmapArray magic + 8-byte count
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 4 + 4 + 4 + 4 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377) // magic
    bb.putLong(1L)        // one bitmap
    bb.putInt(12346)      // SERIAL_COOKIE_NO_RUNCONTAINER
    bb.putInt(1)          // one container
    bb.putShort(0)        // key 0
    bb.putShort(1)        // cardinality - 1
    bb.putInt(20)         // offset header (4+4+4+4+4 from bitmap start)
    bb.putShort(3); bb.putShort(7)
    val bm = DV.parse(bb.array())
    assert(bm.contains(3L) && bm.contains(7L))
    assert(!bm.contains(0L) && !bm.contains(4L) && !bm.contains(65536L + 3))
    assert(bm.cardinality == 2L)
  }

  test("roaring parse of a run container (cookie 12347)") {
    // one bitmap, one RUN container: key=1, run [10, 10+4]
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 4 + 1 + 4 + 2 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(1681511377)
    bb.putLong(1L)
    bb.putInt(12347 | (0 << 16)) // run cookie, (containers-1)=0
    bb.put(1.toByte)             // run bitset: container 0 is a run
    bb.putShort(1)               // key 1
    bb.putShort(4)               // cardinality - 1 (5 values)
    // < 4 containers with run cookie: NO offset header
    bb.putShort(1)               // one run
    bb.putShort(10); bb.putShort(4) // start 10, length 4 -> 10..14
    val bm = DV.parse(bb.array())
    (10 to 14).foreach(v => assert(bm.contains(65536L + v), s"run member $v"))
    assert(!bm.contains(65536L + 9) && !bm.contains(65536L + 15))
    assert(!bm.contains(10L), "key 0 has no container")
    assert(bm.cardinality == 5L)
  }

  test("dv file wrapper: offsets, size check, and checksum enforcement") {
    val dir = Files.createTempDirectory("graft_dv_spec")
    val a = DV.serialize(Seq(1L, 5L))
    val b = DV.serialize(Seq(2L, 700000L))
    val f = dir.resolve("dv.bin")
    val offs = DV.writeDvFile(f, Seq(a, b))
    assert(offs.head == 1, "first DV starts after the version byte")
    val dA = DV.Descriptor("p", f.toString, Some(offs(0)), a.length, 2L)
    val dB = DV.Descriptor("p", f.toString, Some(offs(1)), b.length, 2L)
    assert(DV.readBytes(dir, dA).toSeq == a.toSeq)
    assert(DV.readBytes(dir, dB).toSeq == b.toSeq)
    // flip a payload byte: the CRC must catch it
    val bytes = Files.readAllBytes(f)
    bytes(offs(0) + 4 + 2) = (bytes(offs(0) + 4 + 2) ^ 0x40).toByte
    Files.write(f, bytes)
    val e = intercept[IllegalArgumentException] { DV.readBytes(dir, dA) }
    assert(e.getMessage.contains("checksum"))
  }

  test("descriptor codec: render is the inverse of parseDescriptor for i, u and p") {
    val dir = Files.createTempDirectory("graft_dv_desc")
    val bm = DV.serialize(Seq(3L, 9L, 70000L))
    val uuid = java.util.UUID.nameUUIDFromBytes("desc-codec".getBytes("UTF-8"))
    val off = DV.writeDvFile(dir.resolve(s"deletion_vector_$uuid.bin"), Seq(bm)).head
    val i = DV.Descriptor("i", DV.z85Encode(bm), None, bm.length, 3L)
    val u = DV.Descriptor.u(uuid, off, bm.length, 3L)
    val p = DV.Descriptor("p", dir.resolve("x y+%.bin").toString, Some(1), bm.length, 3L)
    Seq(i, u, p).foreach(d => assert(DV.parseDescriptor(d.render) == d, d.render))
    // spec key order, offset only when set
    assert(i.render == s"""{"storageType":"i","pathOrInlineDv":"${i.pathOrInlineDv}",""" +
      s""""sizeInBytes":${bm.length},"cardinality":3}""")
    assert(u.render == s"""{"storageType":"u","pathOrInlineDv":"${u.pathOrInlineDv}",""" +
      s""""offset":$off,"sizeInBytes":${bm.length},"cardinality":3}""")
    // the "u" constructor's Z85 names exactly the file the UUID names
    assert(u.pathOrInlineDv.length == 20)
    assert(DV.readBytes(dir, u).toSeq == bm.toSeq)
  }

  test("DV table snapshot hides deleted rows across all three storage types") {
    val s = spark
    val t = DeltaLog.deltaDvTable(s, "/root/testdata/sf0.001")
    val snap = DeltaLog.snapshot(s, t)
    val expected = events.filter(pmod(col("event_id"), lit(7)) =!= 0)
    assert(snap.count() == expected.count())
    assert(snap.filter(pmod(col("event_id"), lit(7)) === 0).count() == 0L,
      "every deleted row must be hidden")
    // the distributed replay path applies DVs identically
    val saved = DeltaLog.driverMaxLogBytes
    try {
      DeltaLog.driverMaxLogBytes = 0L
      assert(DeltaLog.snapshot(s, t).count() == expected.count())
      assert(DeltaLog.lastReplayPath == "distributed")
    } finally DeltaLog.driverMaxLogBytes = saved
    // skip-scan composes stats pruning with DV application
    val viaSkip = DeltaLog.skipScan(s, t, Seq(("event_id", null, 500L)))
    assert(viaSkip.count() ==
      expected.filter(col("event_id") <= 500).count())
  }

  test("deleteVectors commits bitmap deletes without rewriting any data file") {
    val s = spark
    val t = DeltaLog.deltaDvWriteTable(s, "/root/testdata/sf0.001")
    val root = Paths.get(t)
    // the staged fixture already ran two DV deletes in the low band
    val snap = DeltaLog.snapshot(s, t)
    val expected = events.filter(
      !((pmod(col("event_id"), lit(7)) === 0 || pmod(col("event_id"), lit(5)) === 0)
        && col("event_id") <= 300))
    assert(snap.count() == expected.count())
    // the three original data files are untouched — the deletes were
    // metadata-only (bitmaps + log entries)
    val parts = Files.list(root).iterator()
    var parquet = 0
    var dvFiles = 0
    while (parts.hasNext) {
      val n = parts.next().getFileName.toString
      if (n.endsWith(".parquet")) parquet += 1
      if (n.startsWith("deletion_vector_")) dvFiles += 1
    }
    assert(parquet == 3, "no data file was rewritten or added")
    assert(dvFiles == 2, "each DV delete wrote one bitmap file")
    // a fresh DV delete on a higher band (on a COPY — the staged fixture
    // backs the oracle query): stats prune the other two files
    val t2 = Files.createTempDirectory("graft_dvw_copy")
    copyTree(root, t2)
    val res = DeltaLog.deleteVectors(s, t2.toString,
      pmod(col("event_id"), lit(11)) === 0 && col("event_id").between(400, 799),
      Seq(("event_id", java.lang.Long.valueOf(400L), java.lang.Long.valueOf(799L))))
    assert(res.filesAffected == 1L && res.filesSkipped == 2L, s"got $res")
    assert(res.rowsDeleted ==
      events.filter(pmod(col("event_id"), lit(11)) === 0 &&
        col("event_id").between(400, 799)).count())
    assert(DeltaLog.snapshot(s, t2.toString).count() ==
      expected.filter(!(pmod(col("event_id"), lit(11)) === 0 &&
        col("event_id").between(400, 799))).count())
  }

  test("deleteVectors merges into an existing DV (delete-on-delete union)") {
    val s = spark
    val t = DeltaLog.deltaDvWriteTable(s, "/root/testdata/sf0.001")
    // the fixture's second delete (%5) landed on the file already carrying
    // the %7 DV: its newest descriptor's cardinality must be the union
    val live = DeltaLog.snapshot(s, t) // force staging
    assert(live.columns.nonEmpty)
    val lines = Files.readAllLines(
      Paths.get(t).resolve("_delta_log").resolve(f"${2L}%020d.json"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val addLine = lines.asScala.find(l => l.contains("\"add\"")).get
    val card = mapper.readTree(addLine).get("add")
      .get("deletionVector").get("cardinality").asLong()
    val union = events.filter(
      (pmod(col("event_id"), lit(7)) === 0 || pmod(col("event_id"), lit(5)) === 0)
        && col("event_id") <= 300).count()
    assert(card == union,
      s"merged DV cardinality $card must equal the union $union")
  }

  test("purgeVectors materializes clean files; vacuum then sweeps old data + orphaned DVs") {
    val s = spark
    val src = Paths.get(DeltaLog.deltaDvWriteTable(s, "/root/testdata/sf0.001"))
    val t = Files.createTempDirectory("graft_dv_purge_spec")
    copyTree(src, t)
    val before = DeltaLog.snapshot(s, t.toString)
    val beforeCount = before.count()
    val beforeSum = before.agg(sum(col("value"))).head.getDouble(0)
    val res = DeltaLog.purgeVectors(s, t.toString)
    assert(res.filesRewritten == 1L, s"only the DV'd low band rewrites: $res")
    val after = DeltaLog.snapshot(s, t.toString)
    assert(after.count() == beforeCount, "purge is row-invisible")
    assert(math.abs(after.agg(sum(col("value"))).head.getDouble(0) - beforeSum) < 1e-6)
    assert(after.inputFiles.exists(_.contains("part-purge-")),
      "the clean file replaces the DV'd one")
    // dataChange=false: the purge commit is invisible to the change feed
    assert(DeltaLog.changesBetween(s, t.toString, res.version - 1, res.version)
      .count() == 0L)
    // vacuum now sweeps the superseded data file AND both orphaned DV bins
    DeltaLog.vacuum(s, t.toString, retentionMs = 0L)
    val leftover = Files.list(t).iterator()
    var bins = 0
    while (leftover.hasNext) {
      if (leftover.next().getFileName.toString.startsWith("deletion_vector_")) bins += 1
    }
    assert(bins == 0, "no live add references a DV: all bitmap files sweep")
    assert(DeltaLog.snapshot(s, t.toString).count() == beforeCount)
  }

  test("vacuum protects live-referenced DV files, sweeps superseded ones") {
    val s = spark
    val src = Paths.get(DeltaLog.deltaDvWriteTable(s, "/root/testdata/sf0.001"))
    val t = Files.createTempDirectory("graft_dv_vac_spec")
    copyTree(src, t)
    val expected = DeltaLog.snapshot(s, t.toString).count()
    // two DV commits exist: the first bitmap was superseded by the merge;
    // at zero retention the superseded one sweeps, the live one must stay
    DeltaLog.vacuum(s, t.toString, retentionMs = 0L)
    val left = Files.list(t).iterator()
    var bins = 0
    while (left.hasNext) {
      if (left.next().getFileName.toString.startsWith("deletion_vector_")) bins += 1
    }
    assert(bins == 1, s"live DV kept, superseded swept — $bins remain")
    assert(DeltaLog.snapshot(s, t.toString).count() == expected,
      "the snapshot still reads through the surviving DV")
  }

  test("checkpoints carry deletion vectors: replay from checkpoint alone") {
    val s = spark
    val src = Paths.get(DeltaLog.deltaDvTable(s, "/root/testdata/sf0.001"))
    // copy the fixture so aging out the JSON prefix doesn't mutate it
    val t = Files.createTempDirectory("graft_dv_ckpt")
    copyTree(src, t)
    DeltaLog.checkpoint(s, t.toString)
    // age out the JSON commit: the checkpoint is now the only log state
    Files.delete(t.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    val snap = DeltaLog.snapshot(s, t.toString)
    assert(snap.count() ==
      events.filter(pmod(col("event_id"), lit(7)) =!= 0).count(),
      "a DV replayed from the checkpoint must keep hiding its rows")
  }

  test("graft_dv_agg round-trips through the portable roaring codec: " +
      "dense/sparse/high-bit positions, duplicates, per-group isolation") {
    val s = spark
    import org.apache.spark.sql.functions.col
    import s.implicits._
    val rnd = new scala.util.Random(42)
    // sparse lows, one dense run (promotes a bitmap container past the
    // 4096-cardinality array cutoff), values above 2^32 (exercises the
    // multi-bitmap high split), and deliberate DUPLICATES
    val sparse = Seq.fill(500)(rnd.nextLong(1L << 20)).map(math.abs)
    val dense = (100000L to 106000L)
    val highs = Seq.fill(50)((5L << 32) + rnd.nextLong(1L << 16))
    val a = (sparse ++ dense ++ highs ++ sparse.take(100)).map(("a", _))
    val b = Seq.fill(300)(rnd.nextLong(1L << 24)).map(math.abs).map(("b", _))
    val out = (a ++ b).toDF("f", "pos")
      .repartition(8) // partial buffers must merge across partitions
      .groupBy(col("f"))
      .agg(graft.functions.DvBitmapAgg.dvAgg(col("pos")).as("dv"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    def decoded(bytes: Array[Byte]): Seq[Long] =
      graft.sources.DeletionVectors.parse(bytes).values.toSeq
    assert(decoded(out("a")) ==
      (sparse ++ dense ++ highs).distinct.sorted,
      "group a must round-trip exactly (dedup + sort)")
    assert(decoded(out("b")) == b.map(_._2).distinct.sorted)
    // cardinality header agrees without full decode
    assert(graft.sources.DeletionVectors.parse(out("a")).cardinality ==
      (sparse ++ dense ++ highs).distinct.size)
    // a global aggregate over ZERO rows evaluates to null (no empty
    // bitmap exists in the spec serialization)
    val empty = Seq.empty[Long].toDF("pos")
      .agg(graft.functions.DvBitmapAgg.dvAgg(col("pos")).as("dv"))
      .collect()(0)
    assert(empty.isNullAt(0), "empty fold must be null, not a crash")
  }
}
