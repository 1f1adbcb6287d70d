package graft

import java.nio.file.Files

import graft.sources.TxLog

/** Transaction-log semantics: atomic commit, snapshot isolation vs the
  * dirty raw scan, time travel, and monotonic versioning.
  */
class TxLogSpec extends SparkSpec {

  private def freshTable(): String =
    Files.createTempDirectory("graft_txlog_spec").toString

  private def events = Tables.events(spark, "/root/testdata/sf0.001")

  test("snapshot sees only committed files; dirty scan sees orphans too") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500), t)
    // writer dies before committing: data lands, the log never hears of it
    events.filter(col("event_id") >= 500)
      .write.parquet(java.nio.file.Paths.get(t).resolve("data-orphan").toString)
    val committed = TxLog.snapshot(s, t).count()
    val dirty = TxLog.dirtyScan(s, t).count()
    assert(committed == events.filter(col("event_id") < 500).count())
    assert(dirty == events.count(), "raw glob must surface uncommitted fragments")
    assert(dirty > committed)
  }

  test("time travel: each version is the exact cumulative file set at commit time") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val v1 = TxLog.commitAppend(events.filter(col("event_id") < 300), t)
    val v2 = TxLog.commitAppend(events.filter(col("event_id") >= 300), t)
    assert(v1 == 1L && v2 == 2L, "versions are assigned monotonically")
    assert(TxLog.currentVersion(t).contains(2L))
    assert(TxLog.snapshotAt(s, t, 1).count() == events.filter(col("event_id") < 300).count())
    assert(TxLog.snapshotAt(s, t, 2).count() == events.count())
  }

  test("commit survives losing a version race (optimistic retry)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t)
    // another committer claims v2 out from under us
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t).resolve("_txlog").resolve("v00000002.manifest"),
      TxLog.snapshot(s, t).inputFiles.map(f =>
        java.nio.file.Paths.get(t).relativize(java.nio.file.Paths.get(
          new java.net.URI(f).getPath)).toString).mkString("\n").getBytes("UTF-8"))
    val v = TxLog.commitAppend(events.filter(col("event_id") >= 100), t)
    assert(v == 3L, s"commit must retry past the stolen version, got v$v")
    assert(TxLog.snapshotAt(s, t, 3).count() == events.count())
  }

  test("vacuum deletes expired and orphaned files, keeps the retained snapshot intact") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val a = events.filter(col("event_id") < 100)
    val b = events.filter(col("event_id") >= 100 && col("event_id") < 200)
    TxLog.commitAppend(a, t)                                  // v1
    TxLog.commitOverwrite(b, t)                               // v2 replaces v1
    events.filter(col("event_id") >= 200).limit(50)
      .write.parquet(java.nio.file.Paths.get(t).resolve("data-orphan").toString)
    val before = TxLog.snapshot(s, t).count()
    // the default min-age threshold protects the just-written files
    // (they are indistinguishable from an in-flight committer's batch)
    val (d0, _) = TxLog.vacuum(t, retainVersions = 1)
    assert(d0 == 0L, s"young files must survive the age threshold, deleted $d0")
    val (deleted, retained) = TxLog.vacuum(t, retainVersions = 1, minAgeMs = 0L)
    assert(deleted > 0, "expected expired v1 + orphan files to be deleted")
    assert(retained > 0)
    // the retained snapshot is untouched
    assert(TxLog.snapshot(s, t).count() == before)
    assert(before == b.count())
    // time travel beyond retention now fails (manifest expired)
    intercept[Exception] { TxLog.snapshotAt(s, t, 1).count() }
    // nothing outside the retained manifest remains on disk
    val diskRows = s.read
      .option("recursiveFileLookup", "true").option("pathGlobFilter", "*.parquet")
      .parquet(t).count()
    assert(diskRows == before)
    // a LARGER window than survives on disk must not crash on the
    // already-expired v1 manifest, and must keep the live snapshot
    val (d2, _) = TxLog.vacuum(t, retainVersions = 5, minAgeMs = 0L)
    assert(d2 == 0L)
    assert(TxLog.snapshot(s, t).count() == before)
  }

  test("vacuum sweeps partitioned batches recursively and prunes emptied partition dirs") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500),
      t, partitionBy = Seq("event_type"))
    TxLog.commitOverwrite(events.filter(col("event_id") >= 500)
        .filter(col("event_type") === "view"),
      t, partitionBy = Seq("event_type"))
    val expected = events.filter(col("event_id") >= 500)
      .filter(col("event_type") === "view").count()
    val (deleted, _) = TxLog.vacuum(t, retainVersions = 1, minAgeMs = 0L)
    assert(deleted > 0, "the overwritten partitioned batch must be swept")
    // the raw recursive glob now equals the retained snapshot — proof the
    // nested col=value files were really deleted
    val dirty = s.read
      .option("recursiveFileLookup", "true").option("pathGlobFilter", "*.parquet")
      .parquet(t)
    assert(dirty.count() == expected)
    // the emptied batch directory tree is gone entirely
    val stray = Files.list(java.nio.file.Paths.get(t)).iterator()
    val batchDirs = new scala.collection.mutable.ArrayBuffer[String]
    while (stray.hasNext) {
      val p = stray.next()
      if (p.getFileName.toString.startsWith("data-")) batchDirs += p.toString
    }
    assert(batchDirs.size == 1, s"swept batch dirs must be removed: $batchDirs")
    // snapshot (with partition discovery) still reads clean
    assert(TxLog.snapshot(s, t).count() == expected)
  }

  test("a table's partitioning is fixed at the first commit") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100),
      t, partitionBy = Seq("event_type"))
    val e1 = intercept[RuntimeException] {
      TxLog.commitAppend(events.filter(col("event_id") >= 900), t)
    }
    assert(e1.getMessage.contains("partitioning is fixed"),
      "a flat commit into a partitioned table must fail loudly")
    val t2 = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t2)
    val e2 = intercept[RuntimeException] {
      TxLog.commitOverwrite(events.filter(col("event_id") >= 900),
        t2, partitionBy = Seq("event_type"))
    }
    assert(e2.getMessage.contains("partitioning is fixed"),
      "repartitioning via overwrite is a new table, not a commit")
  }

  test("change feed keeps partition columns for partitioned tables") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500),
      t, partitionBy = Seq("event_type"))
    TxLog.commitAppend(events.filter(col("event_id") >= 500),
      t, partitionBy = Seq("event_type"))
    val feed = TxLog.changesBetween(s, t, 1L, 2L)
    assert(feed.columns.contains("event_type"),
      "added hive-layout files must read back with their partition column")
    assert(feed.count() == events.filter(col("event_id") >= 500).count())
  }

  test("change feed between identical versions is empty, not a crash") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t)
    val empty = TxLog.changesBetween(s, t, 1L, 1L)
    assert(empty.count() == 0L)
    assert(empty.columns.contains("event_type")) // schema preserved
    TxLog.commitAppend(events.filter(col("event_id") >= 100), t)
    assert(TxLog.changesBetween(s, t, 1L, 2L).count() ==
      events.filter(col("event_id") >= 100).count())
  }

  // ------------------------------------------------ row-level rewrites

  test("deleteWhere rewrites only stat-overlapping files; mirror agrees") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.repartitionByRange(8, col("event_id")), t)
    val res = TxLog.deleteWhere(s, t, col("event_id") <= 300,
      Seq(("event_id", null, java.lang.Long.valueOf(300L))))
    assert(res.version == 2L)
    assert(res.filesRewritten + res.filesSkipped == 8,
      s"8 range files staged, got $res")
    assert(res.filesSkipped > 0,
      s"high-range files must skip the rewrite via mirror stats, got $res")
    val snap = TxLog.snapshot(s, t)
    assert(snap.count() == events.filter(col("event_id") > 300).count())
    assert(snap.filter(col("event_id") <= 300).count() == 0L)
    // the Delta mirror replays remove+add to the identical state
    val delta = graft.sources.DeltaLog.snapshot(s, t)
    assert(delta.count() == snap.count())
    assert(math.abs(delta.agg(sum(col("value"))).head.getDouble(0) -
      snap.agg(sum(col("value"))).head.getDouble(0)) < 1e-6)
  }

  test("deleteWhere keeps null-predicate rows (SQL DELETE rule)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, Some(5.0)), (2L, None), (3L, Some(1.0)))
      .toDF("id", "x"), t)
    TxLog.deleteWhere(s, t, col("x") > 2.0)
    val left = TxLog.snapshot(s, t).select("id").as[Long].collect().sorted
    assert(left.toSeq == Seq(2L, 3L),
      "x>2 deletes id=1 only; the null-x row must survive")
  }

  test("deleteWhere with a no-overlap prune hint is a commit-free no-op") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.repartitionByRange(4, col("event_id")), t)
    val res = TxLog.deleteWhere(s, t, col("event_id") > 5000000L,
      Seq(("event_id", java.lang.Long.valueOf(5000001L), null)))
    assert(res.version == 1L && res.filesRewritten == 0L,
      s"nothing overlaps: no rewrite, no new version — got $res")
    assert(TxLog.snapshot(s, t).count() == events.count())
  }

  test("updateWhere doubles the band, preserves schema and rows elsewhere") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.repartitionByRange(8, col("event_id")), t)
    val before = TxLog.snapshot(s, t).schema
    val res = TxLog.updateWhere(s, t, col("event_id") <= 300,
      Map("value" -> (col("value") * 2)),
      Seq(("event_id", null, java.lang.Long.valueOf(300L))))
    assert(res.filesSkipped > 0, s"expected stat-pruned files, got $res")
    val snap = TxLog.snapshot(s, t)
    assert(snap.schema == before, "UPDATE must not drift the schema")
    assert(snap.count() == events.count())
    val bandBefore = events.filter(col("event_id") <= 300)
      .agg(sum(col("value"))).head.getDouble(0)
    val bandAfter = snap.filter(col("event_id") <= 300)
      .agg(sum(col("value"))).head.getDouble(0)
    assert(math.abs(bandAfter - bandBefore * 2) < 1e-6)
    val outBefore = events.filter(col("event_id") > 300)
      .agg(sum(col("value"))).head.getDouble(0)
    val outAfter = snap.filter(col("event_id") > 300)
      .agg(sum(col("value"))).head.getDouble(0)
    assert(math.abs(outAfter - outBefore) < 1e-6, "rows outside the band unchanged")
  }

  test("updateWhere casts assignments back to the declared column type") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 50), t)
    TxLog.updateWhere(s, t, col("event_id") < 10, Map("value" -> lit(7)))
    val f = TxLog.snapshot(s, t).schema("value")
    assert(f.dataType == org.apache.spark.sql.types.DoubleType,
      "an int literal assignment must cast to the column's double type")
  }

  test("mergeInto upserts: matched rows replaced, unmatched inserted, files pruned") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") > 200)
      .repartitionByRange(8, col("event_id")), t)
    val source = events.filter(col("event_id") <= 200)
      .unionByName(events.filter(col("event_id").between(201, 300))
        .withColumn("value", col("value") * 2))
    val res = TxLog.mergeInto(s, t, source, Seq("event_id"))
    assert(res.filesSkipped > 0,
      s"base files above the source key envelope must skip, got $res")
    val snap = TxLog.snapshot(s, t)
    assert(snap.count() == events.count(), "inserts + kept + updated = corpus")
    val band = snap.filter(col("event_id").between(201, 300))
      .agg(sum(col("value"))).head.getDouble(0)
    val bandOrig = events.filter(col("event_id").between(201, 300))
      .agg(sum(col("value"))).head.getDouble(0)
    assert(math.abs(band - bandOrig * 2) < 1e-6, "matched rows take the source values")
    assert(snap.filter(col("event_id") <= 200).count() == 201L, "inserted rows")
    // mirror parity after remove+add
    assert(graft.sources.DeltaLog.snapshot(s, t).count() == snap.count())
  }

  test("mergeInto with keys beyond every file degenerates to a pure append") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500)
      .repartitionByRange(4, col("event_id")), t)
    val inserts = events.filter(col("event_id") < 100)
      .withColumn("event_id", col("event_id") + 1000000L)
    val res = TxLog.mergeInto(s, t, inserts, Seq("event_id"))
    assert(res.filesRewritten == 0L, s"no base file overlaps: $res")
    assert(TxLog.snapshot(s, t).count() == 600L)
  }

  test("partition-pruned delete on a partitioned table") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events, t, partitionBy = Seq("event_type"))
    val res = TxLog.deleteWhere(s, t, col("event_type") === "click",
      Seq(("event_type", "click", "click")))
    assert(res.filesSkipped > 0,
      s"non-click partitions prune on partitionValues alone, got $res")
    val snap = TxLog.snapshot(s, t)
    assert(snap.filter(col("event_type") === "click").count() == 0L)
    assert(snap.count() == events.filter(col("event_type") =!= "click").count())
    assert(snap.columns.contains("event_type"), "partition layout preserved")
  }

  test("restoreTo rolls a delete back without copying data; mirror follows") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.repartitionByRange(8, col("event_id")), t)
    TxLog.deleteWhere(s, t, col("event_id") <= 300,
      Seq(("event_id", null, java.lang.Long.valueOf(300L))))
    assert(TxLog.snapshot(s, t).count() < events.count())
    val dataFilesBefore = Files.walk(java.nio.file.Paths.get(t)).iterator()
    var nBefore = 0
    while (dataFilesBefore.hasNext) {
      if (dataFilesBefore.next().toString.endsWith(".parquet")) nBefore += 1
    }
    val v = TxLog.restoreTo(s, t, 1L)
    assert(v == 3L, "restore is a NEW version, history preserved")
    assert(TxLog.snapshot(s, t).count() == events.count(),
      "every deleted row must come back")
    // metadata-only: restore wrote no new data files
    val dataFilesAfter = Files.walk(java.nio.file.Paths.get(t)).iterator()
    var nAfter = 0
    while (dataFilesAfter.hasNext) {
      if (dataFilesAfter.next().toString.endsWith(".parquet")) nAfter += 1
    }
    assert(nAfter == nBefore, s"restore must not copy data ($nBefore -> $nAfter)")
    // the mirror replays to the restored state too
    assert(graft.sources.DeltaLog.snapshot(s, t).count() == events.count())
    // and the rollback can itself be rolled back
    assert(TxLog.restoreTo(s, t, 2L) == 4L)
    assert(TxLog.snapshot(s, t).count() ==
      events.filter(col("event_id") > 300).count())
  }

  test("restoreTo past a vacuumed version fails loudly") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t)
    TxLog.commitOverwrite(events.filter(col("event_id") >= 900), t)
    TxLog.vacuum(t, retainVersions = 1, minAgeMs = 0L)
    val e = intercept[RuntimeException] { TxLog.restoreTo(s, t, 1L) }
    assert(e.getMessage.contains("expired"),
      s"restore beyond retention must not half-succeed: ${e.getMessage}")
  }

  test("optimize packs small files, keeps rows identical, hides from the mirror feed") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    (0 until 5).foreach(i =>
      TxLog.commitAppend(events.filter(pmod(col("event_id"), lit(5)) === i), t))
    val before = TxLog.snapshot(s, t)
    val filesBefore = before.inputFiles.length
    val res = TxLog.optimize(s, t)
    assert(res.version == 6L && res.filesRewritten == filesBefore,
      s"all small files pack: $res")
    val after = TxLog.snapshot(s, t)
    assert(after.inputFiles.length < filesBefore,
      s"compaction must shrink the file count (${after.inputFiles.length} vs $filesBefore)")
    assert(after.count() == events.count(), "compaction is row-invisible")
    // Delta-mirror change feed: the OPTIMIZE commit (delta v5) is empty...
    assert(graft.sources.DeltaLog.changesBetween(s, t, 4L, 5L).count() == 0L,
      "dataChange=false commits must not surface in the feed")
    // ...and a window spanning appends + optimize still yields each
    // appended row exactly once (compaction removes don't retract them)
    val spanning = graft.sources.DeltaLog.changesBetween(s, t, 0L, 5L)
    assert(spanning.count() ==
      events.filter(pmod(col("event_id"), lit(5)) >= 1).count(),
      "appends 2..5 surface once despite the in-window compaction")
  }

  test("schema evolution: snapshots are typed by the era's metaData schema") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500), t)
    TxLog.commitAppend(events.filter(col("event_id") >= 500)
      .withColumn("bonus", col("value") * 2), t)
    val snap = TxLog.snapshot(s, t)
    assert(snap.columns.contains("bonus"),
      "the evolved column must be visible regardless of footer order")
    assert(snap.count() == events.count())
    assert(snap.filter(col("bonus").isNull).count() == 500L,
      "pre-evolution rows read the new column as null")
    assert(snap.filter(col("bonus").isNotNull).count() == 500L)
    // time travel returns the OLD schema for the old version (Delta rule)
    val v1 = TxLog.snapshotAt(s, t, 1L)
    assert(!v1.columns.contains("bonus"),
      "v1 predates the column — its snapshot must not carry it")
    assert(v1.count() == 500L)
  }

  test("a rewrite that read a stale base version fails loudly (serializable)") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t)
    // a racing committer takes v2 between our snapshot read and commit;
    // with NO read predicate the rewrite read the whole table, so the
    // racer's added rows could have changed its result — refuse
    TxLog.commitAppend(events.filter(col("event_id").between(100, 199)), t)
    val e = intercept[RuntimeException] {
      TxLog.commitRewrite(t, base = 1L, removedSet = Set.empty,
        added = Seq.empty, schemaJson = events.schema.json)
    }
    assert(e.getMessage.contains("concurrent commit"),
      s"rewrites must not serialize past a racing writer: ${e.getMessage}")
  }

  test("logical conflict check: a partition-local rewrite serializes past " +
      "an unrelated racing append") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500), t)
    val mine = TxLog.liveRelsAt(t, 1L).toSet
    // the racer lands AFTER this rewrite read version 1 — its file's
    // mirror stats (event_id >= 500) prove it disjoint from the read
    // predicate, so the rewrite re-links past it (stock Delta's
    // ConcurrentAppend re-check)
    TxLog.commitAppend(events.filter(col("event_id") >= 500), t)
    val v = TxLog.commitRewrite(t, base = 1L, removedSet = mine,
      added = Seq.empty, schemaJson = events.schema.json,
      operation = "DELETE",
      readPreds = Seq(("event_id", null, java.lang.Long.valueOf(499L))),
      spark = Some(s))
    assert(v == 3L, s"re-based commit must land at 3, got $v")
    // the racer's rows survive; the rewrite's removal applied
    val snap = TxLog.snapshot(s, t)
    assert(snap.count() == events.filter(col("event_id") >= 500).count())
    assert(snap.filter(col("event_id") < 500).count() == 0)
  }

  test("logical conflict check: OPTIMIZE (dataChange=false) tolerates any " +
      "racing append; overlapping and unprovable racers still refuse") {
    val s = spark
    import org.apache.spark.sql.functions._
    // 1) byte-moving rewrite vs unrelated append: serializes
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t)
    val small = TxLog.liveRelsAt(t, 1L).toSet
    TxLog.commitAppend(events.filter(col("event_id").between(100, 199)), t)
    val packedRel = graft.sources.IcebergLog.writeDataFile(
      TxLog.snapshotAt(s, t, 1L), java.nio.file.Paths.get(t),
      "packed-opt.parquet")
    val v = TxLog.commitRewrite(t, base = 1L, removedSet = small,
      added = Seq(packedRel), schemaJson = events.schema.json,
      dataChange = false, operation = "OPTIMIZE")
    assert(v == 3L)
    assert(TxLog.snapshot(s, t).count() ==
      events.filter(col("event_id") < 200).count())
    // 2) racer appended INSIDE the read predicate: refuse
    val t2 = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 500), t2)
    val mine2 = TxLog.liveRelsAt(t2, 1L).toSet
    TxLog.commitAppend(events.filter(col("event_id").between(400, 599)), t2)
    val e2 = intercept[RuntimeException] {
      TxLog.commitRewrite(t2, base = 1L, removedSet = mine2,
        added = Seq.empty, schemaJson = events.schema.json,
        operation = "DELETE",
        readPreds = Seq(("event_id", null, java.lang.Long.valueOf(499L))),
        spark = Some(s))
    }
    assert(e2.getMessage.contains("read predicate"), e2.getMessage)
    // 3) racer removed the files this rewrite rewrites: refuse
    val t3 = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t3)
    val mine3 = TxLog.liveRelsAt(t3, 1L).toSet
    TxLog.deleteWhere(s, t3, col("event_id") < 10) // racer rewrote file A
    val e3 = intercept[RuntimeException] {
      TxLog.commitRewrite(t3, base = 1L, removedSet = mine3,
        added = Seq.empty, schemaJson = events.schema.json,
        operation = "DELETE",
        readPreds = Seq(("event_id", null, java.lang.Long.valueOf(99L))),
        spark = Some(s))
    }
    assert(e3.getMessage.contains("removed or re-deleted"), e3.getMessage)
    // 4) racer DV-deleted rows inside the files this rewrite rewrites
    val t4 = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t4)
    TxLog.setTableProperties(s, t4,
      Map("delta.enableDeletionVectors" -> "true")) // v2
    val mine4 = TxLog.liveRelsAt(t4, 2L).toSet
    TxLog.deleteWhereDv(s, t4, col("event_id") < 5,
      Seq(("event_id", null, java.lang.Long.valueOf(5L)))) // racer, v3
    val e4 = intercept[RuntimeException] {
      TxLog.commitRewrite(t4, base = 2L, removedSet = mine4,
        added = Seq.empty, schemaJson = events.schema.json,
        operation = "DELETE",
        readPreds = Seq(("event_id", null, java.lang.Long.valueOf(99L))),
        spark = Some(s))
    }
    assert(e4.getMessage.contains("removed or re-deleted"), e4.getMessage)
    // 5) metadata-shaped racer (no file changes): refuse conservatively
    val t5 = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 100), t5)
    val mine5 = TxLog.liveRelsAt(t5, 1L).toSet
    TxLog.setTableProperties(s, t5, Map("graft.note" -> "racer"))
    val e5 = intercept[RuntimeException] {
      TxLog.commitRewrite(t5, base = 1L, removedSet = mine5,
        added = Seq.empty, schemaJson = events.schema.json,
        operation = "DELETE",
        readPreds = Seq(("event_id", null, java.lang.Long.valueOf(99L))),
        spark = Some(s))
    }
    assert(e5.getMessage.contains("metadata-shaped"), e5.getMessage)
  }

  test("commitAppendOnce: a replayed (appId, batchId) lands exactly once") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val app = "eo-app"
    val b0 = events.filter(col("event_id") < 300)
    val b1 = events.filter(col("event_id").between(300, 599))
    assert(TxLog.commitAppendOnce(b0, t, app, 0L).contains(1L))
    assert(TxLog.commitAppendOnce(b1, t, app, 1L).contains(2L))
    // crash-replay: same token, DIFFERENT content — must skip entirely
    val dupe = TxLog.commitAppendOnce(events, t, app, 1L)
    assert(dupe.isEmpty, s"duplicate token must skip, got $dupe")
    assert(TxLog.currentVersion(t).contains(2L))
    assert(TxLog.snapshot(s, t).count() == b0.count() + b1.count())
    // the skipped retry's staged batch is reclaimed eagerly
    assert(TxLog.dirtyScan(s, t).count() == b0.count() + b1.count(),
      "skipped retry must not leave orphaned data files")
    // older token also skips; the NEXT id commits
    assert(TxLog.commitAppendOnce(b0, t, app, 0L).isEmpty)
    assert(TxLog.commitAppendOnce(events.filter(col("event_id") >= 600), t, app, 2L).contains(3L))
    assert(TxLog.lastTxnVersion(s, t, app).contains(2L))
    // a DIFFERENT app is independent
    assert(TxLog.commitAppendOnce(b0, t, "other-app", 0L).contains(4L))
  }

  test("the token mirrors as a Delta txn action and survives checkpoints") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    val t = freshTable()
    val app = "eo-ckpt"
    TxLog.commitAppendOnce(events.filter(col("event_id") < 200), t, app, 7L)
    // the mirror's commit JSON carries the txn action
    val lines = Files.readAllLines(
      java.nio.file.Paths.get(t, "_delta_log", f"${0L}%020d.json"))
    assert(lines.toString.contains("\"txn\"") && lines.toString.contains("eo-ckpt"))
    assert(DeltaLog.txnVersion(s, t, app).contains(7L))
    assert(DeltaLog.txnVersion(s, t, "unknown").isEmpty)
    // more commits, then compact and AGE OUT the json prefix: the
    // checkpoint's txn rows must still answer
    TxLog.commitAppendOnce(events.filter(col("event_id").between(200, 399)), t, app, 8L)
    TxLog.commitAppend(events.filter(col("event_id") >= 400), t)
    DeltaLog.checkpoint(s, t)
    (0L to 2L).foreach { v =>
      Files.deleteIfExists(java.nio.file.Paths.get(t, "_delta_log", f"$v%020d.json"))
    }
    assert(DeltaLog.txnVersion(s, t, app).contains(8L),
      "the latest txn per appId must survive log compaction")
    // and the TxLog-side check consults the mirror once manifests age out
    (1L to 3L).foreach { v =>
      Files.deleteIfExists(java.nio.file.Paths.get(t, "_txlog", f"v$v%08d.manifest"))
    }
    assert(TxLog.lastTxnVersion(s, t, app).contains(8L))
  }

  test("CHECK constraints: null violates, all constraints check in one pass, message names the culprit") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), t)
    TxLog.setTableProperties(s, t, Map(
      "delta.constraints.vPositive" -> "v > 0",
      "delta.constraints.idBound" -> "id < 1000"))
    // a NULL check result is a violation (Delta's invariant rule, not
    // SQL's null-passes CHECK)
    val nullV = Seq((3L, Option.empty[Double])).toDF("id", "v")
    val e1 = intercept[RuntimeException](TxLog.commitAppend(nullV, t))
    assert(e1.getMessage.contains("vPositive"), e1.getMessage)
    val e2 = intercept[RuntimeException](
      TxLog.commitAppend(Seq((5000L, 1.0)).toDF("id", "v"), t))
    assert(e2.getMessage.contains("idBound"), e2.getMessage)
    // conforming rows land; the refused ones never did
    TxLog.commitAppend(Seq((4L, 1.5)).toDF("id", "v"), t)
    assert(TxLog.snapshot(s, t).count() == 3)
  }

  test("appendOnly: row-removing ops refuse, appends and OPTIMIZE pass") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 200), t)
    TxLog.commitAppend(events.filter(col("event_id").between(200, 399)), t)
    TxLog.setTableProperties(s, t, Map("delta.appendOnly" -> "true"))
    intercept[RuntimeException](
      TxLog.deleteWhere(s, t, col("event_id") < 100))
    intercept[RuntimeException](
      TxLog.updateWhere(s, t, col("event_id") < 100, Map("value" -> lit(0.0))))
    intercept[RuntimeException](
      TxLog.commitOverwrite(events.filter(col("event_id") < 10), t))
    // appends still land, and OPTIMIZE (dataChange=false) is bytes-only
    TxLog.commitAppend(events.filter(col("event_id").between(400, 499)), t)
    TxLog.optimize(s, t)
    assert(TxLog.snapshot(s, t).count() ==
      events.filter(col("event_id") < 500).count())
  }

  test("properties survive mirror metaData re-emission on schema change") {
    val s = spark
    import s.implicits._
    import graft.sources.DeltaLog
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, 10.0)).toDF("id", "v"), t)
    TxLog.setTableProperties(s, t, Map("delta.constraints.vPositive" -> "v > 0"))
    // schema evolves (new column) → the mirror re-emits metaData; the
    // configuration must carry forward, not reset to {}
    TxLog.commitAppend(Seq((2L, 20.0, "x")).toDF("id", "v", "tag"), t)
    val cfg = DeltaLog.tableConfig(java.nio.file.Paths.get(t))
    assert(cfg.get("delta.constraints.vPositive").contains("v > 0"),
      s"config lost on metaData re-emission: $cfg")
    // and the constraint still enforces after the evolution
    val e = intercept[RuntimeException](
      TxLog.commitAppend(Seq((3L, -1.0, "y")).toDF("id", "v", "tag"), t))
    assert(e.getMessage.contains("vPositive"))
  }

  test("generated columns: computed when omitted, validated when provided, metadata survives") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, 10.0)).toDF("id", "v"), t)
    TxLog.addGeneratedColumn(s, t, "v2", org.apache.spark.sql.types.DoubleType, "v * 2")
    // omitted -> computed
    TxLog.commitAppend(Seq((2L, 20.0)).toDF("id", "v"), t)
    // provided and CORRECT -> accepted
    TxLog.commitAppend(Seq((3L, 30.0, 60.0)).toDF("id", "v", "v2"), t)
    // provided and WRONG -> refused
    val e = intercept[RuntimeException](
      TxLog.commitAppend(Seq((4L, 40.0, 0.0)).toDF("id", "v", "v2"), t))
    assert(e.getMessage.contains("generated column"), e.getMessage)
    val snap = TxLog.snapshot(s, t).orderBy("id").collect()
    // the pre-install row null-fills; computed rows carry v*2
    assert(snap.map(r => (r.getLong(0), if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq ==
      Seq((1L, -1.0), (2L, 40.0), (3L, 60.0)))
    // the generation metadata survived the later appends
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(DeltaLog.currentSchemaString(java.nio.file.Paths.get(t)).get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema("v2").metadata.getString("delta.generationExpression") == "v * 2")
  }

  test("generated date partitions prune in the scan plan") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 200)
      .withColumn("event_date", col("ts").cast("date")),
      t, partitionBy = Seq("event_date"))
    TxLog.setGenerationExpression(s, t, "event_date", "CAST(ts AS DATE)")
    TxLog.commitAppend(events.filter(col("event_id") >= 200),
      t, partitionBy = Seq("event_date"))
    val plan = TxLog.snapshot(s, t)
      .filter(col("event_date") === "2024-01-10")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      plan.take(1500))
  }

  test("governance survives log compaction and a fresh process (checkpoint metaData fallback)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, 10.0)).toDF("id", "v"), t)
    TxLog.setTableProperties(s, t, Map("delta.constraints.vPositive" -> "v > 0"))
    TxLog.addGeneratedColumn(s, t, "v2", org.apache.spark.sql.types.DoubleType, "v * 2")
    // push past the checkpoint cadence, then age out the ENTIRE json log
    (1 to 9).foreach(i => TxLog.commitAppend(Seq((i + 10L, 1.0)).toDF("id", "v"), t))
    DeltaLog.checkpoint(s, t)
    val ld = java.nio.file.Paths.get(t, "_delta_log")
    import scala.jdk.CollectionConverters._
    Files.list(ld).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(p => { Files.delete(p); () })
    // fresh process: no in-memory metaData — enforcement must re-derive
    // it from the CHECKPOINT, not silently become an ungoverned table
    DeltaLog.resetMetaCache(java.nio.file.Paths.get(t))
    val e = intercept[RuntimeException](
      TxLog.commitAppend(Seq((100L, -5.0)).toDF("id", "v"), t))
    assert(e.getMessage.contains("vPositive"), e.getMessage)
    DeltaLog.resetMetaCache(java.nio.file.Paths.get(t))
    TxLog.commitAppend(Seq((101L, 7.0)).toDF("id", "v"), t)
    val last = TxLog.snapshot(s, t).orderBy(col("id").desc).limit(1).collect().head
    assert(last.getDouble(2) == 14.0,
      s"generated column must still compute after compaction: $last")
  }

  test("UPDATE cannot smuggle constraint violations; generated columns recompute on rewrite") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), t)
    TxLog.setTableProperties(s, t, Map("delta.constraints.vPositive" -> "v > 0"))
    TxLog.addGeneratedColumn(s, t, "v2", org.apache.spark.sql.types.DoubleType, "v * 2")
    TxLog.commitAppend(Seq((3L, 30.0)).toDF("id", "v"), t)
    // a rewrite is a WRITE: the installed CHECK applies to updated rows
    val e = intercept[RuntimeException](
      TxLog.updateWhere(s, t, col("id") === 1, Map("v" -> lit(-5.0))))
    assert(e.getMessage.contains("vPositive"), e.getMessage)
    // updating the BASE column moves the generated one with it
    TxLog.updateWhere(s, t, col("id") === 3, Map("v" -> lit(50.0)))
    val r3 = TxLog.snapshot(s, t).filter(col("id") === 3).collect().head
    assert(r3.getDouble(1) == 50.0 && r3.getDouble(2) == 100.0,
      s"generated column must recompute on UPDATE: $r3")
  }

  test("OPTIMIZE ZORDER: the 2-D box prunes files a 1-D layout could not") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    val t = freshTable()
    // z-hostile layout: every file spans both full dimension ranges
    TxLog.commitAppend(events.repartition(8, col("event_type")), t)
    DeltaLog.skipScan(s, t,
      Seq(("event_id", 100L, 300L), ("user_id", 0L, 5L))).collect()
    val before = DeltaLog.lastSkipScan
    assert(before._1 == before._2, s"hash layout must prune nothing: $before")
    val r = TxLog.optimizeZorder(s, t, "event_id", "user_id", nFiles = 8)
    assert(r.filesRewritten == before._1, s"every live file re-clusters: $r")
    val box = DeltaLog.skipScan(s, t,
      Seq(("event_id", 100L, 300L), ("user_id", 0L, 5L)))
    val got = box.agg(count(lit(1))).head.getLong(0)
    val after = DeltaLog.lastSkipScan
    assert(after._2 < after._1, s"z-order must prune the 2-D box: $after")
    assert(got == events.filter(col("event_id").between(100, 300) &&
      col("user_id").between(0, 5)).count())
    // the MANIFEST-level feed is file-based, so a re-clustering
    // re-delivers every row (manifests don't record dataChange) —
    // dataChange-aware consumers use the mirror: the commit classifies
    // bytes-only, which is what the streaming source skips on
    assert(TxLog.changesBetween(s, t, 1L, 2L).count() == events.count())
    assert(DeltaLog.isBytesOnlyCommit(java.nio.file.Paths.get(t), 2L)
      .contains(true))
  }

  test("column defaults: EXISTS_DEFAULT backfills reads, CURRENT_DEFAULT fills writes, provided wins") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, 10.0)).toDF("id", "v"), t)
    TxLog.addColumnWithDefault(s, t, "tag",
      org.apache.spark.sql.types.StringType, "'std'")
    TxLog.commitAppend(Seq((2L, 20.0)).toDF("id", "v"), t)
    TxLog.commitAppend(Seq((3L, 30.0, "vip")).toDF("id", "v", "tag"), t)
    val rows = TxLog.snapshot(s, t).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    assert(rows.toSeq == Seq((1L, "std"), (2L, "std"), (3L, "vip")),
      rows.mkString(","))
    // pre-evolution DATA FILE still lacks the column: the default came
    // from metadata, not a rewrite
    val v1files = TxLog.snapshotAt(s, t, 1L)
    assert(!s.read.parquet(
      TxLog.dirtyScan(s, t).inputFiles.filter(_.contains("data-")).head
        .stripPrefix("file:")).columns.contains("tag") ||
      v1files.count() == 1) // at least one generation lacks it physically
  }

  test("schema evolution preserves field metadata (generation exprs, defaults)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(Seq((1L, 10.0)).toDF("id", "v"), t)
    TxLog.setGenerationExpression(s, t, "v", "CAST(id AS DOUBLE) * 10")
    TxLog.addColumnWithDefault(s, t, "fee",
      org.apache.spark.sql.types.DoubleType, "2.5")
    // a WIDENING append (new `tag` column; v and fee completed by the
    // writer) must not strip the governance metadata from surviving
    // columns when the evolved schema re-emits
    TxLog.commitAppend(Seq((2L, "x")).toDF("id", "tag"), t)
    val js = org.apache.spark.sql.types.DataType.fromJson(
      graft.sources.DeltaLog.currentSchemaString(
        java.nio.file.Paths.get(t)).get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(js.fieldNames.contains("tag"), js.treeString)
    assert(js("v").metadata.contains("delta.generationExpression"),
      "widening append stripped the generation expression: " + js("v").metadata)
    assert(js("fee").metadata.contains("CURRENT_DEFAULT"),
      "widening append stripped the column default: " + js("fee").metadata)
    // and both still APPLY for a later omitting batch
    TxLog.commitAppend(Seq((5L, "y")).toDF("id", "tag"), t)
    val row = TxLog.snapshot(s, t).filter(col("id") === 5)
      .select("v", "fee").collect()(0)
    assert(row.getDouble(0) == 50.0 && row.getDouble(1) == 2.5,
      s"governance must still apply post-evolution, got $row")
  }

  test("#props header makes installed governance survive a crashed mirror write") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 200), t)
    val v = TxLog.setTableProperties(s, t, Map(
      "delta.constraints.idBound" -> "event_id < 800"))
    // simulate the committer dying right after the manifest link: the
    // property commit's Delta mirror JSON vanishes before anyone read it
    Files.delete(java.nio.file.Paths.get(t, "_delta_log", f"${v - 1}%020d.json"))
    graft.sources.DeltaLog.resetMetaCache(java.nio.file.Paths.get(t))
    TxLog.resetMirrorCache()
    // the NEXT commit backfills the missing mirror version FROM THE
    // MANIFEST HEADERS — constraints included — so enforcement still sees it
    TxLog.commitAppend(events.filter(col("event_id").between(200, 399)), t)
    val cfg = graft.sources.DeltaLog.tableConfig(java.nio.file.Paths.get(t))
    assert(cfg.get("delta.constraints.idBound").contains("event_id < 800"),
      s"backfill must restore properties from the #props header, got $cfg")
    val bad = scala.util.Try(
      TxLog.commitAppend(events.filter(col("event_id") >= 800), t))
    assert(bad.isFailure && bad.failed.get.getMessage.contains("idBound"),
      s"restored constraint must enforce: $bad")
  }

  test("#op header classifies backfilled rewrites without the mirror") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    (0 until 3).foreach(i => TxLog.commitAppend(
      events.filter(pmod(col("event_id"), lit(3)) === i), t))
    val r = TxLog.optimize(s, t)
    // kill the OPTIMIZE version's mirror (crashed committer) and caches
    Files.delete(java.nio.file.Paths.get(t, "_delta_log", f"${r.version - 1}%020d.json"))
    graft.sources.DeltaLog.resetMetaCache(java.nio.file.Paths.get(t))
    TxLog.resetMirrorCache()
    // next commit backfills; the re-mirrored version must carry
    // dataChange=false FROM THE #op HEADER, so the change feed and the
    // streaming source keep skipping the compaction
    TxLog.commitAppend(events.limit(0), t)
    assert(graft.sources.DeltaLog.isBytesOnlyCommit(
      java.nio.file.Paths.get(t), r.version).contains(true),
      "backfilled OPTIMIZE must re-mirror as dataChange=false via #op")
  }

  test("commitAppendOnce refuses appIds that would corrupt the manifest header") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    intercept[IllegalArgumentException](
      TxLog.commitAppendOnce(events.limit(1), t, "app id", 1L))
    intercept[IllegalArgumentException](
      TxLog.commitAppendOnce(events.limit(1), t, "app\nid", 1L))
    intercept[IllegalArgumentException](
      TxLog.commitAppendOnce(events.limit(1), t, "", 1L))
  }

  test("OPTIMIZE ZORDER on a partitioned table clusters within partitions, layout preserved") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events
      .withColumn("day", col("ts").cast("date"))
      .repartition(6, col("event_type")), t, partitionBy = Seq("day"))
    val before = TxLog.snapshot(s, t)
      .groupBy("event_type").agg(round(sum("value"), 2).as("tv"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val r = TxLog.optimizeZorder(s, t, "event_id", "user_id")
    assert(r.filesRewritten > 0)
    val snap = TxLog.snapshot(s, t)
    // hive layout preserved: every live file still sits under day=...
    assert(snap.inputFiles.forall(_.contains("day=")),
      snap.inputFiles.take(3).mkString(","))
    // rows invisible to the rewrite
    val after = snap.groupBy("event_type").agg(round(sum("value"), 2).as("tv"))
      .collect().map(r2 => (r2.getString(0), r2.getDouble(1))).toMap
    assert(after == before)
    // the partition column still prunes, composed with the new layout
    val oneDay = snap.filter(col("day") === "2024-01-03")
    val scans = oneDay.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "partition pruning must still reach the scan: " +
        oneDay.queryExecution.executedPlan.toString.take(400))
    assert(oneDay.count() ==
      events.filter(col("ts").cast("date") === "2024-01-03").count())
    // and the mirror feed skips the bytes-only rewrite
    assert(graft.sources.DeltaLog.isBytesOnlyCommit(
      java.nio.file.Paths.get(t), r.version).contains(true))
  }

  test("commitDeltasRange equals per-version commitDelta in one manifest pass") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    (0 until 4).foreach(i => TxLog.commitAppend(
      events.filter(pmod(col("event_id"), lit(4)) === i), t))
    TxLog.optimize(s, t) // v5 rewrites (adds + removes)
    val ranged = TxLog.commitDeltasRange(t, 1L, 5L)
    (1L to 5L).foreach { v =>
      val (added, removed) = TxLog.commitDelta(t, v)
      val (rv, radded, rremoved) = ranged((v - 1).toInt)
      assert(rv == v && radded == added && rremoved == removed.nonEmpty,
        s"v$v: range=($radded,$rremoved) vs delta=($added,${removed.nonEmpty})")
    }
  }

  test("malformed #op / #props manifest headers degrade, never throw") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 20), t)
    // a healthy manifest classifies
    assert(TxLog.readManifest(java.nio.file.Paths.get(t), 1L).op.isDefined)
    // fabricate version 2 with a TRUNCATED #op line (2 tokens) and a
    // #props pair without '=': classification must fall back (None) and
    // the props parse must skip the malformed pair -- the documented
    // conservative degradation, not ArrayIndexOutOfBoundsException
    val bad = java.nio.file.Paths.get(t, "_txlog", "v00000002.manifest")
    java.nio.file.Files.writeString(bad,
      "#op WRITE\n#props delta.appendOnly=true junk\n")
    assert(TxLog.readManifest(java.nio.file.Paths.get(t), 2L).op.isEmpty)
    assert(TxLog.readManifest(java.nio.file.Paths.get(t), 2L).props ==
      Map("delta.appendOnly" -> "true"))
  }

  test("manifest codec: every writer's manifest re-renders byte-identically") {
    val s = spark
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableChangeDataFeed" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id") < 300).coalesce(1), t)
    TxLog.commitAppendOnce(events.filter(col("event_id").between(300, 499))
      .coalesce(1), t, "codec-app", 1L)
    TxLog.deleteWhere(s, t, col("event_id") === 5)
    TxLog.setTableProperties(s, t,
      Map("delta.enableDeletionVectors" -> "true"))
    TxLog.deleteWhereDv(s, t, pmod(col("event_id"), lit(7)) === 0)
    TxLog.updateWhereDv(s, t, pmod(col("event_id"), lit(11)) === 0,
      Map("value" -> lit(2.0)))
    TxLog.mergeIntoDv(s, t, events.filter(pmod(col("event_id"), lit(13)) === 0)
      .withColumn("value", lit(3.0)), Seq("event_id"))
    TxLog.optimize(s, t)
    TxLog.restoreTo(s, t, 4L)
    TxLog.commitOverwrite(events.filter(col("event_id") < 100), t)
    def roundTrip(p: java.nio.file.Path): TxLog.Manifest = {
      val m = TxLog.Manifest.parse(Files.readAllLines(p).asScala.toSeq)
      assert(m.render.sameElements(Files.readAllBytes(p)),
        s"$p does not re-render byte-identically")
      m
    }
    val ms = (1L to TxLog.currentVersion(t).get).map(v =>
      roundTrip(java.nio.file.Paths.get(t, "_txlog", f"v$v%08d.manifest")))
    // the sequence exercised every header the grammar defines
    assert(ms.exists(_.txn.contains(("codec-app", 1L))))
    assert(ms.exists(_.props.contains("delta.enableRowTracking")))
    assert(ms.exists(_.dvs.nonEmpty) && ms.exists(_.cdc.nonEmpty))
    assert(ms.exists(_.rids.nonEmpty) && ms.exists(_.ridHwm.nonEmpty) &&
      ms.exists(_.ridMat.nonEmpty))
    assert(Set("WRITE", "DELETE", "UPDATE", "MERGE", "OPTIMIZE", "RESTORE")
      .subsetOf(ms.flatMap(_.op.map(_._1)).toSet))
    assert(ms.exists(_.op.contains(("OPTIMIZE", false))))
    // manifests from writers that predate `#op` carry no header at all
    val legacy = roundTrip(java.nio.file.Paths.get(
      "fixtures/golden_delta/v1/_txlog/v00000003.manifest"))
    assert(legacy.op.isEmpty && legacy.files.size == 2)
  }

  test("identity columns: generated-always values, dense continuation across a restart") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.addIdentityColumn(s, t, "sid", start = 10L, step = 3L)
    TxLog.commitAppend(events.filter(col("event_id") <= 100)
      .coalesce(1).sortWithinPartitions("event_id"), t)
    val snap1 = TxLog.snapshot(s, t)
    val n1 = snap1.count()
    assert(n1 > 0)
    val r1 = snap1.agg(countDistinct(col("sid")), min(col("sid")),
      max(col("sid"))).collect()(0)
    assert(r1.getLong(0) == n1, "every row gets a unique id")
    assert(r1.getLong(1) == 10L, "sequence starts at start")
    assert(r1.getLong(2) == 10L + 3L * (n1 - 1), "dense step arithmetic")
    // explicit insert refused while GENERATED ALWAYS
    val bad = intercept[RuntimeException](TxLog.commitAppend(
      events.filter(col("event_id") === 101).withColumn("sid", lit(7L)), t))
    assert(bad.getMessage.contains("identity"), bad.getMessage)
    // a fresh process (cold caches) continues from the PERSISTED mark —
    // the high-water mark lives in the mirrored schema metadata, not in
    // process state
    graft.sources.DeltaLog.resetMetaCache(java.nio.file.Paths.get(t))
    TxLog.resetMirrorCache()
    TxLog.commitAppend(events.filter(col("event_id").between(101, 150))
      .coalesce(1).sortWithinPartitions("event_id"), t)
    val snap2 = TxLog.snapshot(s, t)
    val n2 = snap2.count()
    val r2 = snap2.agg(countDistinct(col("sid")), max(col("sid"))).collect()(0)
    assert(r2.getLong(0) == n2, "no id reissued across the restart")
    assert(r2.getLong(1) == 10L + 3L * (n2 - 1), "continuation stays dense")
    // the protocol gates foreign writers on the feature
    import scala.jdk.CollectionConverters._
    val ld = java.nio.file.Paths.get(t, "_delta_log")
    val protoLine = Files.list(ld).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && n.takeWhile(_ != '.').forall(_.isDigit))
      .map(_.takeWhile(_ != '.').toLong).toSeq.sorted.reverse.iterator
      .flatMap(v => Files.readAllLines(ld.resolve(f"$v%020d.json")).asScala
        .filter(_.contains("\"protocol\"")).lastOption)
      .nextOption().getOrElse("")
    assert(protoLine.contains("identityColumns") &&
      protoLine.contains("\"minWriterVersion\":7"), protoLine)
  }

  test("row tracking: ids are delete-stable, append-monotonic, optimize-stable") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id") <= 200)
      .coalesce(1).sortWithinPartitions("event_id"), t)
    val before = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before.values.toSeq.distinct.size == before.size, "ids unique")
    assert(before.values.min == 0L, "fresh ids start at 0")
    // merge-on-read DELETE: every survivor keeps its EXACT id
    TxLog.deleteWhereDv(s, t, pmod(col("event_id"), lit(3)) === 0)
    val after = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.nonEmpty && after.size < before.size)
    after.foreach { case (eid, rid) =>
      assert(before(eid) == rid, s"row $eid was renumbered: ${before(eid)} -> $rid")
    }
    // a later append claims ids PAST the deleted ones (never reissued)
    TxLog.commitAppend(events.filter(col("event_id").between(201, 220))
      .coalesce(1).sortWithinPartitions("event_id"), t)
    val later = TxLog.snapshotWithRowIds(s, t)
    val newMin = later.filter(col("event_id") >= 201)
      .agg(min(col("_row_id"))).collect()(0).getLong(0)
    assert(newMin == before.size.toLong,
      s"new ids must start at the old high-water mark + 1, got $newMin")
    // OPTIMIZE is allowed: it MATERIALIZES ids into the packed files,
    // so every surviving row keeps its exact id through the rewrite
    val preOpt = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val filesBefore = TxLog.snapshot(s, t).inputFiles.toSet
    val r = TxLog.optimize(s, t)
    assert(r.filesRewritten >= 2, s"optimize must pack: $r")
    assert(TxLog.snapshot(s, t).inputFiles.toSet != filesBefore)
    val postOpt = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(postOpt == preOpt, "OPTIMIZE must preserve every stable row id")
    // the Delta-log-only foreign reader agrees on the MATERIALIZED form
    val viaLog = graft.sources.DeltaLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(viaLog == postOpt, "foreign reader must honor materialized ids")
    // the plain snapshot never exposes the materialized id column
    assert(!TxLog.snapshot(s, t).columns.exists(_.startsWith("_row-id-col-")))
    // ids keep working for DML AFTER the compaction too
    TxLog.deleteWhereDv(s, t, col("event_id") === 7)
    val postDel = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(postDel == preOpt - 7L, "post-optimize DV delete keeps survivor ids")
    // enabling late on a table that already holds rows refuses id reads
    val t2 = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") <= 10), t2)
    TxLog.setTableProperties(s, t2, Map("delta.enableRowTracking" -> "true"))
    val e3 = intercept[RuntimeException](TxLog.snapshotWithRowIds(s, t2).count())
    assert(e3.getMessage.contains("predate row tracking"), e3.getMessage)
  }

  test("copy-on-write DML on a row-tracked table materializes preserved ids") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.setTableProperties(s, t, Map("delta.enableRowTracking" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id") <= 200)
      .coalesce(1).sortWithinPartitions("event_id"), t)
    TxLog.commitAppend(events.filter(col("event_id").between(201, 400))
      .coalesce(1).sortWithinPartitions("event_id"), t)
    val pre = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = pre.size.toLong
    // copy-on-write UPDATE: every row — updated rows INCLUDED — keeps
    // its exact id through the file rewrite (the ids materialize into
    // the replacement files, the same move OPTIMIZE makes)
    val r1 = TxLog.updateWhere(s, t, col("event_id").between(50, 99),
      Map("value" -> (col("value") * 2)))
    assert(r1.filesRewritten > 0)
    val postUpd = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(postUpd == pre, "copy-on-write UPDATE must preserve every id")
    // the foreign (Delta-log) reader computes the same materialized ids
    val viaLog = graft.sources.DeltaLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLog == pre)
    // and the values really changed
    assert(TxLog.snapshot(s, t).filter(col("event_id").between(50, 99))
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      events.filter(col("event_id").between(50, 99))
        .agg(round(sum(col("value") * 2), 2)).collect()(0).getDouble(0))
    // copy-on-write DELETE: survivors keep ids exactly
    TxLog.deleteWhere(s, t, pmod(col("event_id"), lit(10)) === 3)
    val postDel = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(postDel.nonEmpty && postDel.size < pre.size)
    postDel.foreach { case (eid, rid) => assert(pre(eid) == rid) }
    // copy-on-write MERGE: survivors keep ids, inserted rows claim
    // FRESH unique ids past the spent mark
    val src = events.filter(col("event_id").between(100, 149))
      .withColumn("value", col("value") + 7)
      .unionByName(events.filter(col("event_id") <= 30)
        .withColumn("event_id", col("event_id") + 700000L))
    TxLog.mergeInto(s, t, src, Seq("event_id"))
    val postMrg = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    postMrg.foreach { case (eid, rid) =>
      if (eid < 700000L && !(eid >= 100 && eid <= 149))
        assert(pre(eid) == rid, s"survivor $eid renumbered")
    }
    assert(postMrg.values.toSeq.distinct.size == postMrg.size, "ids unique")
    val inserted = postMrg.filter(_._1 >= 700000L)
    assert(inserted.size == 31 && inserted.values.min >= n,
      s"merged-in inserts must claim fresh ids past $n")
    // merge-on-read DML still composes after the materializing rewrites
    TxLog.setTableProperties(s, t,
      Map("delta.enableDeletionVectors" -> "true"))
    TxLog.deleteWhereDv(s, t, col("event_id") === 150L)
    val end = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(end == postMrg - 150L)
  }

  test("row tracking on a PARTITIONED table: hive layout, ids unique and delete-stable") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0)
      .withColumn("bucket", pmod(col("event_id"), lit(3))), t,
      partitionBy = Seq("bucket"))
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id") <= 300)
      .withColumn("bucket", pmod(col("event_id"), lit(3))), t,
      partitionBy = Seq("bucket"))
    val before = TxLog.snapshotWithRowIds(s, t)
    val n = before.count()
    assert(n > 0)
    assert(before.agg(countDistinct(col("_row_id"))).collect()(0).getLong(0) == n,
      "partitioned files must claim disjoint id spans")
    // partition column reattaches from the hive dirs alongside _row_id
    assert(before.select(countDistinct(col("bucket"))).collect()(0).getLong(0) == 3)
    val pre = before.select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    TxLog.deleteWhereDv(s, t, pmod(col("event_id"), lit(5)) === 0)
    val post = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(post.nonEmpty && post.size < pre.size)
    post.foreach { case (eid, rid) => assert(pre(eid) == rid) }
    // the foreign (Delta-log) reader agrees on the partitioned layout
    val viaLog = graft.sources.DeltaLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLog == post, "partitioned log-replay ids must match")
  }

  test("RESTORE restores deletion vectors and row ids exactly, both views") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id") <= 400)
      .coalesce(1).sortWithinPartitions("event_id"), t)          // v3
    TxLog.deleteWhereDv(s, t, pmod(col("event_id"), lit(5)) === 0) // v4
    val atV4 = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    TxLog.deleteWhereDv(s, t, pmod(col("event_id"), lit(3)) === 0) // v5
    assert(TxLog.snapshot(s, t).count() < atV4.size)
    // restore to v4: the DV must ROLL BACK to v4's bitmap (%3-only
    // rows return), ids intact, and the Delta mirror view must agree
    TxLog.restoreTo(s, t, 4L)                                      // v6
    val restored = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(restored == atV4, "restore must reinstate v4's exact rows + ids")
    assert(graft.sources.DeltaLog.snapshot(s, t).count() == atV4.size,
      "mirror view must carry the rolled-back DV")
    val viaLog = graft.sources.DeltaLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLog == atV4)
    // restore to v3: the DV DROPS entirely — every row returns, in
    // the engine view AND the mirror (plain re-add, no descriptor)
    TxLog.restoreTo(s, t, 3L)                                      // v7
    val full = events.filter(col("event_id") <= 400).count()
    assert(TxLog.snapshot(s, t).count() == full)
    assert(graft.sources.DeltaLog.snapshot(s, t).count() == full,
      "mirror must stop hiding rows after a restore past the delete")
  }

  test("RESTORE re-adds a rewritten-away file with its deletion vector") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.repartitionByRange(3, col("event_id")), t)
    TxLog.setTableProperties(s, t, Map("delta.enableDeletionVectors" -> "true"))
    TxLog.deleteWhereDv(s, t, pmod(col("event_id"), lit(5)) === 0)   // v3
    val atV3 = TxLog.snapshot(s, t).count()
    // with DVs off, a delete REWRITES files (drops their DVs with them)
    TxLog.setTableProperties(s, t,
      Map("delta.enableDeletionVectors" -> "false"))                 // v4
    TxLog.deleteWhere(s, t, col("event_id") <= 300)                  // v5
    TxLog.restoreTo(s, t, 3L)                                        // v6
    assert(TxLog.snapshot(s, t).count() == atV3,
      "restored files must come back WITH their deletion vectors")
    assert(graft.sources.DeltaLog.snapshot(s, t).count() == atV3,
      "the mirror's re-add must carry the restored DV descriptor")
  }

  test("identity columns: allowExplicitInsert accepts values and advances the mark past them") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.addIdentityColumn(s, t, "sid", start = 1L, step = 1L,
      allowExplicitInsert = true)
    val explicit = events.filter(col("event_id") <= 5)
      .withColumn("sid", col("event_id") + 100L)
    val nExp = explicit.count()
    val expMax = explicit.agg(max(col("sid"))).collect()(0).getLong(0)
    TxLog.commitAppend(explicit, t)
    val generated = events.filter(col("event_id").between(6, 8))
    val nGen = generated.count()
    TxLog.commitAppend(generated.coalesce(1).sortWithinPartitions("event_id"), t)
    val snap = TxLog.snapshot(s, t)
    assert(snap.count() == nExp + nGen)
    assert(snap.agg(countDistinct(col("sid"))).collect()(0).getLong(0) ==
      nExp + nGen, "generated values must not collide with explicit ones")
    val gen = snap.filter(col("event_id") >= 6)
      .agg(min(col("sid")), max(col("sid"))).collect()(0)
    assert(gen.getLong(0) == expMax + 1L && gen.getLong(1) == expMax + nGen,
      s"generation must resume past the explicit max $expMax: $gen")
    // SYNC IDENTITY: a foreign writer that maintained the data but not
    // the mark (stock Delta's explicit inserts don't advance it) leaves
    // the recorded high-water mark BEHIND the column — generation would
    // reissue live ids. Simulate by rewinding the mark in the newest
    // mirrored metaData, then repair with syncIdentity.
    val trueHwm = expMax + nGen
    val ld = java.nio.file.Paths.get(t, "_delta_log")
    import scala.jdk.CollectionConverters._
    val newest = Files.list(ld).iterator.asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && n.takeWhile(_ != '.').forall(_.isDigit))
      .map(_.takeWhile(_ != '.').toLong).max
    val p = ld.resolve(f"$newest%020d.json")
    val rewound = Files.readString(p).replace(
      s"""delta.identity.highWaterMark\\":$trueHwm""",
      s"""delta.identity.highWaterMark\\":1""")
    assert(rewound != Files.readString(p), "sabotage must hit the mark")
    Files.writeString(p, rewound)
    graft.sources.DeltaLog.resetMetaCache(java.nio.file.Paths.get(t))
    TxLog.resetMirrorCache()
    TxLog.syncIdentity(s, t)
    TxLog.commitAppend(events.filter(col("event_id").between(9, 12))
      .coalesce(1).sortWithinPartitions("event_id"), t)
    val resnap = TxLog.snapshot(s, t)
    assert(resnap.agg(countDistinct(col("sid"))).collect()(0).getLong(0) ==
      resnap.count(), "post-sync generation must not reissue live ids")
    assert(resnap.filter(col("event_id") >= 9)
      .agg(min(col("sid"))).collect()(0).getLong(0) == trueHwm + 1L,
      "generation must resume exactly past the synced mark")
  }

  test("merge-on-read MERGE: DVs hide matched rows, nothing rewritten, stacks compose") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.filter(col("event_id") > 200)
      .repartitionByRange(8, col("event_id")), t)
    // gate: refuses without the deletionVectors feature
    val e0 = intercept[RuntimeException](TxLog.mergeIntoDv(s, t,
      ev.filter(col("event_id") <= 10), Seq("event_id")))
    assert(e0.getMessage.contains("deletionVectors"), e0.getMessage)
    TxLog.setTableProperties(s, t,
      Map("delta.enableDeletionVectors" -> "true"))
    val filesV1 = TxLog.snapshot(s, t).inputFiles.toSet
    val source = ev.filter(col("event_id") <= 200)
      .unionByName(ev.filter(col("event_id").between(201, 300))
        .withColumn("value", col("value") * 2))
    val r = TxLog.mergeIntoDv(s, t, source, Seq("event_id"))
    assert(r.filesRewritten > 0, s"matched files must carry DVs: $r")
    assert(r.filesSkipped > 0, s"high-range files must prune via stats: $r")
    // NO data file was rewritten: every v1 file is still live
    val filesNow = TxLog.snapshot(s, t).inputFiles.toSet
    assert(filesV1.subsetOf(filesNow),
      "merge-on-read must keep every pre-merge file live")
    // row-for-row: full corpus with the 201..300 band doubled
    val expect = ev.withColumn("value",
      when(col("event_id").between(201, 300), col("value") * 2)
        .otherwise(col("value")))
    val snap = TxLog.snapshot(s, t)
    assert(snap.count() == ev.count())
    assert(snap.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      expect.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    // a stacked second merge overlapping the first's APPENDED batch:
    // the replaced replacements must hide (DV on the appended file) —
    // whole-row semantics, source derives from the ORIGINAL corpus
    val source2 = ev.filter(col("event_id").between(250, 350))
      .withColumn("value", col("value") + 100)
    val r2 = TxLog.mergeIntoDv(s, t, source2, Seq("event_id"))
    assert(r2.filesRewritten > 0)
    val expect2 = ev.withColumn("value",
      when(col("event_id").between(250, 350), col("value") + 100)
        .otherwise(when(col("event_id").between(201, 249), col("value") * 2)
          .otherwise(col("value"))))
    val snap2 = TxLog.snapshot(s, t)
    assert(snap2.count() == ev.count(), "stacked merge must not gain/lose rows")
    assert(snap2.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0) ==
      expect2.agg(round(sum(col("value")), 2)).collect()(0).getDouble(0))
    // a source matching no visible row degenerates to a pure append
    val extra = ev.filter(col("event_id") <= 50)
      .withColumn("event_id", col("event_id") + 100000)
    val r3 = TxLog.mergeIntoDv(s, t, extra, Seq("event_id"))
    assert(r3.filesRewritten == 0L)
    assert(TxLog.snapshot(s, t).count() == ev.count() + extra.count())
  }

  test("merge-on-read MERGE preserves survivor row ids; CDF + mirror round-trip") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.limit(0), t)                              // v1
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true"))                      // v2
    TxLog.commitAppend(ev.filter(col("event_id").between(100, 299))
      .coalesce(1).sortWithinPartitions("event_id"), t)             // v3
    val pre = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = pre.size.toLong
    // update band 200..249 (matched), insert band 500..549 (unmatched)
    val source = ev.filter(col("event_id").between(200, 249))
      .withColumn("value", col("value") * 3)
      .unionByName(ev.filter(col("event_id").between(500, 549)))
    TxLog.mergeIntoDv(s, t, source, Seq("event_id"))                // v4
    val post = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // unmatched survivors keep their EXACT ids — the claim copy-on-write
    // MERGE cannot make
    pre.foreach { case (eid, rid) =>
      if (eid < 200 || eid > 249)
        assert(post(eid) == rid, s"survivor $eid renumbered: $rid -> ${post(eid)}")
    }
    // merged-in rows (postimages + inserts) claim fresh spans past the mark
    val fresh = post.filter { case (eid, _) =>
      (eid >= 200 && eid <= 249) || eid >= 500 }
    assert(fresh.nonEmpty && fresh.values.min >= n,
      s"fresh ids must start past the spent mark $n, got ${fresh.values.min}")
    assert(post.values.toSeq.distinct.size == post.size, "ids stay unique")
    // typed change feed: per-row types from the commit's cdc files
    val feed = TxLog.changeFeed(s, t, 3L, 4L)
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("update_preimage") == 50L, byType.toString)
    assert(byType("update_postimage") == 50L, byType.toString)
    assert(byType("insert") == 50L, byType.toString)
    // postimages carry the assigned values, preimages the old ones
    val postSum = feed.filter(col("_change_type") === "update_postimage")
      .agg(round(sum(col("value")), 2)).collect()(0).getDouble(0)
    val preSum3 = ev.filter(col("event_id").between(200, 249))
      .agg(round(sum(col("value") * 3), 2)).collect()(0).getDouble(0)
    assert(postSum == preSum3)
    // FOREIGN round-trip: the Delta mirror's cdc actions type identically,
    // and the mirrored snapshot carries the DV remove/add pairs
    val mirror = graft.sources.DeltaLog.tableChanges(s, t, 3L, 4L)
    val mByType = mirror.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mByType == byType, s"mirror feed types must match: $mByType vs $byType")
    assert(graft.sources.DeltaLog.snapshot(s, t).count() ==
      TxLog.snapshot(s, t).count())
    // without CDF the feed across a MERGE refuses loudly
    val t2 = freshTable()
    TxLog.commitAppend(ev.filter(col("event_id") <= 100), t2)
    TxLog.setTableProperties(s, t2,
      Map("delta.enableDeletionVectors" -> "true"))
    TxLog.mergeIntoDv(s, t2, ev.filter(col("event_id").between(50, 60))
      .withColumn("value", col("value") + 1), Seq("event_id"))
    val e = intercept[RuntimeException](TxLog.changeFeed(s, t2, 2L, 3L).count())
    assert(e.getMessage.contains("MERGE without change-data"), e.getMessage)
  }

  test("batch changeFeed across an ADD presents the END schema with " +
      "null-filled preimages") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.filter(col("event_id") < 200), t) // v1
    TxLog.addColumnWithDefault(s, t, "grade",
      org.apache.spark.sql.types.StringType, "'x'") // v2: metadata only
    TxLog.commitAppend(events.filter(col("event_id").between(200, 399))
      .withColumn("grade", lit("y")), t) // v3
    val feed = TxLog.changeFeed(s, t, 0L, 3L)
    // stock contract: ONE schema — the end version's — for every row
    assert(feed.columns.contains("grade"))
    assert(feed.count() == events.filter(col("event_id") < 400).count())
    // pre-evolution rows null-fill the added column (they predate its
    // default, and CDF presents what the rows carried, not the default)
    assert(feed.filter(col("event_id") < 200 && col("grade").isNull)
      .count() == events.filter(col("event_id") < 200).count())
    assert(feed.filter(col("event_id") >= 200 && col("grade") === "y")
      .count() == events.filter(col("event_id").between(200, 399)).count())
    // every row is a real per-version insert under the end schema
    assert(feed.groupBy("_commit_version").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 200L, 3L -> 200L))
  }

  test("changeFeed over a ROW-TRACKED table: the file-level materialized " +
      "id column never trips the schema contract") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t) // rowTracking before data
    TxLog.setTableProperties(s, t, Map(
      "delta.enableRowTracking" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id") < 100)
      .repartition(4), t)
    // OPTIMIZE bakes the hidden materialized row-id column into the
    // packed files' FOOTERS (it is never a table column) ...
    TxLog.optimize(s, t, smallBytes = 1L << 30)
    // ... and a later DV delete's feed reads those footers
    TxLog.deleteWhereDv(s, t, col("event_id") < 10,
      Seq(("event_id", null, java.lang.Long.valueOf(10L))))
    val feed = TxLog.changeFeed(s, t, 4L, 5L)
    assert(feed.filter(col("_change_type") === "delete").count() == 10L,
      "the mat column must be excluded from the drop check, not refuse")
    assert(!feed.columns.exists(_.contains("row-id")),
      s"file-level columns must not surface: ${feed.columns.mkString(",")}")
  }

  test("explicitly-disabled field-id resolution refuses an id-resolved " +
      "table loudly instead of overriding or null-filling") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.IcebergLog
    val key = org.apache.spark.sql.internal.SQLConf
      .PARQUET_FIELD_ID_READ_ENABLED.key
    val ev = events
    val root = java.nio.file.Files.createTempDirectory("graft_flag_refuse")
    val ids = ev.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (i + 1) }.toMap
    val b0 = IcebergLog.writeDataFileWithIds(
      ev.filter(col("event_id") < 50), root, "b0.parquet", ids)
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0))
    val renamed = ev.withColumnRenamed("event_id", "event_key")
    IcebergLog.appendForeignSnapshot(root, renamed.schema, Seq.empty,
      schemaHistory = Seq(ev.schema, renamed.schema),
      fieldIdOverrides = Map("event_key" -> ids("event_id")))
    s.conf.set(key, "false") // the user's EXPLICIT choice
    try {
      val e = intercept[Exception] {
        s.read.format("graft-txlog").option("path", root.toString)
          .load().count()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("EXPLICITLY false"), msgs)
    } finally s.conf.unset(key)
    // with the explicit setting removed, the engine enables the flag
    // itself and the renamed column resolves
    val snap = s.read.format("graft-txlog").option("path", root.toString)
      .load()
    assert(snap.filter(col("event_key").isNull).count() == 0)
  }

  test("vacuum reclaims superseded deletion-vector bins, keeps live ones") {
    val s = spark
    import java.nio.file.{Files => F, Paths => P}
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    TxLog.commitAppend(events.repartitionByRange(4, col("event_id")), t)
    TxLog.setTableProperties(s, t,
      Map("delta.enableDeletionVectors" -> "true"))
    def bins(): Set[String] = {
      val st = F.list(P.get(t))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("deletion_vector_") && n.endsWith(".bin"))
        .toSet
      finally st.close()
    }
    // stacked overlapping deletes: the union path writes MERGED bins,
    // superseding the first delete's bins for the overlap files
    TxLog.deleteWhereDv(s, t, col("event_id") <= 300)
    val afterFirst = bins()
    assert(afterFirst.nonEmpty)
    TxLog.deleteWhereDv(s, t, col("event_id").between(200, 500))
    val afterSecond = bins()
    assert(afterSecond.size > afterFirst.size,
      "stacked DV DML must accumulate bins pre-vacuum")
    val preCount = TxLog.snapshot(s, t).count()
    val preSum = TxLog.snapshot(s, t).agg(round(sum(col("value")), 2))
      .collect()(0).getDouble(0)
    val (deleted, _) = TxLog.vacuum(t, retainVersions = 1, minAgeMs = 0L)
    assert(deleted > 0, "vacuum must sweep superseded DV bins")
    val afterVacuum = bins()
    assert(afterVacuum.nonEmpty, "live bins must survive")
    assert(afterVacuum.size < afterSecond.size,
      s"superseded bins must go: $afterSecond -> $afterVacuum")
    // reads are unchanged: the retained version's bitmaps are intact
    assert(TxLog.snapshot(s, t).count() == preCount)
    assert(TxLog.snapshot(s, t).agg(round(sum(col("value")), 2))
      .collect()(0).getDouble(0) == preSum)
    // a materializing OPTIMIZE drops every DV; vacuum then clears ALL bins
    TxLog.optimize(s, t)
    TxLog.vacuum(t, retainVersions = 1, minAgeMs = 0L)
    assert(bins().isEmpty,
      "after a materializing rewrite no bin is referenced — all swept")
    assert(TxLog.snapshot(s, t).count() == preCount)
  }

  test("OVERWRITE takes the identity and row-tracking write paths") {
    val s = spark
    import org.apache.spark.sql.functions._
    // identity: an overwrite that omits the column generates, past the
    // spent mark; one that provides it refuses under GENERATED ALWAYS
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.addIdentityColumn(s, t, "sid", start = 1L, step = 1L)
    TxLog.commitAppend(events.filter(col("event_id") < 50)
      .coalesce(1).sortWithinPartitions("event_id"), t)
    val preMax = TxLog.snapshot(s, t).agg(max(col("sid")))
      .collect()(0).getLong(0)
    TxLog.commitOverwrite(events.filter(col("event_id").between(50, 79))
      .coalesce(1).sortWithinPartitions("event_id"), t)
    val snap = TxLog.snapshot(s, t)
    assert(snap.count() == 30L)
    assert(snap.agg(count(col("sid"))).collect()(0).getLong(0) == 30L,
      "an overwrite omitting the identity column must generate values")
    assert(snap.agg(min(col("sid"))).collect()(0).getLong(0) == preMax + 1L,
      "overwrite-generated ids must not reissue the replaced rows' ids")
    assert(snap.agg(countDistinct(col("sid"))).collect()(0).getLong(0) == 30L)
    val e = intercept[RuntimeException](TxLog.commitOverwrite(
      events.filter(col("event_id") < 5).withColumn("sid", lit(1L)), t))
    assert(e.getMessage.contains("GENERATED ALWAYS"), e.getMessage)
    // row tracking: the overwriting files must claim fresh #rid spans —
    // both readers compute real ids (not nulls) on the overwritten table
    val t2 = freshTable()
    TxLog.commitAppend(events.limit(0), t2)
    TxLog.setTableProperties(s, t2, Map("delta.enableRowTracking" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id") < 100)
      .coalesce(1).sortWithinPartitions("event_id"), t2)
    TxLog.commitOverwrite(events.filter(col("event_id").between(100, 149))
      .coalesce(1).sortWithinPartitions("event_id"), t2)
    val ids = TxLog.snapshotWithRowIds(s, t2)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.size == 50 && ids.values.toSeq.distinct.size == 50)
    assert(ids.values.min == 100L,
      s"overwrite spans must start past the spent mark, got ${ids.values.min}")
    val viaLog = graft.sources.DeltaLog.snapshotWithRowIds(s, t2)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLog == ids, "foreign reader must see the overwrite's baseRowIds")
  }

  test("identity assignment is exact under a nondeterministic upstream plan") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.addIdentityColumn(s, t, "sid", start = 0L, step = 1L)
    // a rand()-salted shuffle: without pinning the batch between the
    // count pass and the stamping pass, recomputation could shift rows
    // across partitions and duplicate/skip ids
    val salted = events.filter(col("event_id") < 400)
      .repartition(8, (rand() * 100).cast("int"))
    TxLog.commitAppend(salted, t)
    val snap = TxLog.snapshot(s, t)
    val n = snap.count()
    val row = snap.agg(countDistinct(col("sid")).as("d"),
      min(col("sid")).as("lo"), max(col("sid")).as("hi")).collect()(0)
    assert(row.getLong(0) == n, "ids must be unique")
    assert(row.getLong(1) == 0L && row.getLong(2) == n - 1,
      s"ids must be dense 0..${n - 1}: got ${row.getLong(1)}..${row.getLong(2)}")
  }

  test("identity overflow near Long.MaxValue fails loudly, never wraps") {
    val s = spark
    import org.apache.spark.sql.functions._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.addIdentityColumn(s, t, "sid", start = Long.MaxValue - 1, step = 1L)
    intercept[Exception] {
      // 3 rows: the third value would exceed Long.MaxValue
      TxLog.commitAppend(events.filter(col("event_id") < 3).coalesce(1), t)
    }
  }

  test("a racing writer that moved the row-id mark cannot alias spans") {
    val s = spark
    import java.nio.file.{Files => F, Paths => P}
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    TxLog.commitAppend(events.limit(0), t)
    TxLog.setTableProperties(s, t, Map("delta.enableRowTracking" -> "true"))
    TxLog.commitAppend(events.filter(col("event_id") < 50)
      .coalesce(1).sortWithinPartitions("event_id"), t)            // v3
    // a "racing committer" steals v4 AND advances the id high-water
    // mark (as a tracked append would): id spans are claimed inside
    // the claim loop, so the retry must RE-CLAIM past the racer's
    // mark — never commit bases that overlap the stolen span
    val v3 = P.get(t).resolve("_txlog").resolve("v00000003.manifest")
    val stolen = F.readAllLines(v3).asScala.map {
      case l if l.startsWith("#ridhwm ") => "#ridhwm 500"
      case l => l
    }.mkString("\n")
    F.write(P.get(t).resolve("_txlog").resolve("v00000004.manifest"),
      stolen.getBytes("UTF-8"))
    val v = TxLog.commitAppend(events.filter(col("event_id").between(50, 59))
      .coalesce(1).sortWithinPartitions("event_id"), t)
    assert(v == 5L, s"append must retry past the stolen version, got v$v")
    val newIds = TxLog.snapshotWithRowIds(s, t)
      .filter(col("event_id") >= 50)
      .agg(min(col("_row_id")), max(col("_row_id"))).collect()(0)
    assert(newIds.getLong(0) == 501L,
      s"re-claimed spans must start past the racer's mark 500, got ${newIds.getLong(0)}")
    assert(newIds.getLong(1) == 510L)
  }

  test("conditional MERGE (copy-on-write): precedence, partial update, tombstones, conditional insert") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.filter(col("event_id") > 200)
      .repartitionByRange(8, col("event_id")), t)
    val source = ev.filter(col("event_id") <= 400)
      .withColumn("value", col("value") * 2)
    // the DELETE band (301..350) OVERLAPS the UPDATE condition (<= 330):
    // rows 301..330 satisfy both clauses — first-match-wins must delete
    val res = TxLog.mergeIntoClauses(s, t, source, Seq("event_id"), Seq(
      MatchedDelete(Some(col("s.event_id").between(301, 350))),
      MatchedUpdate(Map("value" -> (col("t.value") + col("s.value"))),
        Some(col("s.event_id") <= 330)),
      NotMatchedInsert(Some(col("s.event_id") > 100))))
    assert(res.filesSkipped > 0, s"files above the envelope must prune: $res")
    val snap = TxLog.snapshot(s, t)
    // expected final state, column-exact (same double arithmetic)
    val expect = ev.filter(col("event_id").between(101, 200))
      .withColumn("value", col("value") * 2)                 // inserted
      .unionByName(ev.filter(col("event_id").between(201, 300))
        .withColumn("value", col("value") + col("value") * 2)) // updated
      .unionByName(ev.filter(col("event_id") > 350))           // pass-through
    assert(snap.count() == expect.count(), s"${snap.count()} vs ${expect.count()}")
    assert(snap.select(expect.columns.map(col).toSeq: _*)
      .except(expect).count() == 0, "row-for-row: clause result must be exact")
    // tombstones: the delete clause wins the overlap 301..330
    assert(snap.filter(col("event_id").between(301, 350)).count() == 0)
    // partial update: ts/user_id/props untouched on updated rows
    val untouched = snap.filter(col("event_id").between(201, 300))
      .select("event_id", "ts", "user_id", "event_type", "props")
    assert(untouched.except(ev.filter(col("event_id").between(201, 300))
      .select("event_id", "ts", "user_id", "event_type", "props")).count() == 0,
      "a partial UPDATE must not touch unset columns")
    // conditional insert dropped ids <= 100
    assert(snap.filter(col("event_id") <= 100).count() == 0)
    // validation: an unconditional clause not last in its family refuses
    val e1 = intercept[IllegalArgumentException](TxLog.mergeIntoClauses(
      s, t, source, Seq("event_id"), Seq(
        MatchedDelete(None),
        MatchedUpdate(Map("value" -> col("s.value"))))))
    assert(e1.getMessage.contains("unreachable"), e1.getMessage)
    // unknown SET column refuses
    val e2 = intercept[Exception](TxLog.mergeIntoClauses(
      s, t, source, Seq("event_id"),
      Seq(MatchedUpdate(Map("nope" -> lit(1))))))
    assert(e2.getMessage.contains("unknown SET column"), e2.getMessage)
  }

  test("conditional MERGE source-key uniqueness is enforced on every merge API") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.{MatchedUpdate, NotMatchedInsert}
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.filter(col("event_id") < 500), t)
    TxLog.setTableProperties(s, t,
      Map("delta.enableDeletionVectors" -> "true"))
    val dup = ev.filter(col("event_id").between(10, 20))
      .unionByName(ev.filter(col("event_id") === 15)
        .withColumn("value", col("value") + 1))
    def refusal(body: => Any): Unit = {
      val e = intercept[RuntimeException](body)
      assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    }
    // the plain names on a table without DVs (copy-on-write) and with
    // them (merge-on-read); the `*Dv` names on the DV table
    val plain = freshTable()
    TxLog.commitAppend(ev.filter(col("event_id") < 500), plain)
    Seq(plain, t).foreach { tbl =>
      refusal(TxLog.mergeInto(s, tbl, dup, Seq("event_id")))
      refusal(TxLog.mergeIntoClauses(s, tbl, dup, Seq("event_id"),
        Seq(MatchedUpdate(Map("value" -> col("s.value"))))))
    }
    refusal(TxLog.mergeIntoDv(s, t, dup, Seq("event_id")))
    refusal(TxLog.mergeIntoDvClauses(s, t, dup, Seq("event_id"),
      Seq(NotMatchedInsert())))
    // nothing committed by the refusals
    assert(TxLog.currentVersion(t).contains(2L))
    assert(TxLog.currentVersion(plain).contains(1L))
  }

  test("conditional MERGE (merge-on-read): DVs hide only accepted rows, families agree, CDF typed") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.filter(col("event_id") > 200)
      .repartitionByRange(8, col("event_id")), t)                    // v1
    TxLog.setTableProperties(s, t, Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true"))                       // v2
    val filesV1 = TxLog.snapshot(s, t).inputFiles.toSet
    val source = ev.filter(col("event_id") <= 400)
      .withColumn("value", col("value") * 2)
    val clauses = Seq(
      MatchedDelete(Some(col("s.event_id").between(301, 350))),
      MatchedUpdate(Map("value" -> (col("t.value") + col("s.value"))),
        Some(col("s.event_id") <= 330)),
      NotMatchedInsert(Some(col("s.event_id") > 100)))
    val res = TxLog.mergeIntoDvClauses(s, t, source, Seq("event_id"), clauses) // v3
    assert(res.filesRewritten > 0 && res.filesSkipped > 0, res.toString)
    // NO file rewritten: every v1 file still live
    assert(filesV1.subsetOf(TxLog.snapshot(s, t).inputFiles.toSet),
      "merge-on-read clauses must not rewrite files")
    // row-for-row against the copy-on-write family on the same history:
    // a twin table that differs only in the DV property
    val t2 = freshTable()
    TxLog.commitAppend(ev.filter(col("event_id") > 200)
      .repartitionByRange(8, col("event_id")), t2)
    TxLog.setTableProperties(s, t2,
      Map("delta.enableChangeDataFeed" -> "true"))
    TxLog.mergeIntoClauses(s, t2, source, Seq("event_id"), clauses)
    val a = TxLog.snapshot(s, t)
    val b = TxLog.snapshot(s, t2)
    assert(a.count() == b.count())
    assert(a.except(b).count() == 0 && b.except(a).count() == 0,
      "the two DML families must produce identical rows")
    // matched rows no clause accepts (351..400) stay VISIBLE and unhidden
    assert(a.filter(col("event_id").between(351, 400)).count() == 50L)
    // typed change feed from the commit's cdc files
    val byType = TxLog.changeFeed(s, t, 2L, 3L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 50L, "update_preimage" -> 100L,
      "update_postimage" -> 100L, "insert" -> 100L), byType.toString)
    // foreign mirror parity: Delta snapshot + typed tableChanges agree
    assert(graft.sources.DeltaLog.snapshot(s, t).count() == a.count())
    val mByType = graft.sources.DeltaLog.tableChanges(s, t, 2L, 3L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mByType == byType, s"$mByType vs $byType")
  }

  test("conditional MERGE preserves row ids: updated keep theirs (CoW), inserts claim fresh") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.{MatchedDelete, MatchedUpdate, NotMatchedInsert}
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.limit(0), t)                               // v1
    TxLog.setTableProperties(s, t,
      Map("delta.enableRowTracking" -> "true"))                      // v2
    TxLog.commitAppend(ev.filter(col("event_id").between(100, 299))
      .coalesce(1).sortWithinPartitions("event_id"), t)              // v3
    val pre = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = pre.size.toLong
    val source = ev.filter(col("event_id").between(150, 450))
      .withColumn("value", col("value") * 2)
    TxLog.mergeIntoClauses(s, t, source, Seq("event_id"), Seq(
      MatchedDelete(Some(col("s.event_id") < 170)),
      MatchedUpdate(Map("value" -> col("s.value")),
        Some(col("s.event_id") < 250)),
      NotMatchedInsert(Some(col("s.event_id") <= 400))))             // v4
    val post = TxLog.snapshotWithRowIds(s, t)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deleted: 150..169 gone; inserts: 300..400 only (insert condition)
    assert(!post.contains(160L) && !post.contains(150L))
    assert(post.contains(400L) && !post.contains(401L))
    // UPDATED rows (170..249) and pass-through rows KEEP their exact ids
    pre.foreach { case (eid, rid) =>
      if (eid >= 170) assert(post(eid) == rid,
        s"row $eid renumbered: $rid -> ${post(eid)}")
    }
    // inserted rows claim fresh ids past the spent mark
    val fresh = post.filter(_._1 >= 300)
    assert(fresh.nonEmpty && fresh.values.min >= n,
      s"fresh ids must start past $n, got ${fresh.values.min}")
    assert(post.values.toSeq.distinct.size == post.size, "ids stay unique")
  }

  test("conditional MERGE with no matched clause is a conditional idempotent insert") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.NotMatchedInsert
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.filter(col("event_id") < 500)
      .repartitionByRange(4, col("event_id")), t)
    val filesV1 = TxLog.snapshot(s, t).inputFiles.toSet
    // source straddles the boundary: 450..499 match (must NOT re-insert),
    // 500..599 are new, and the condition drops odd ids
    val source = ev.filter(col("event_id").between(450, 599))
    val res = TxLog.mergeIntoClauses(s, t, source, Seq("event_id"),
      Seq(NotMatchedInsert(Some(pmod(col("s.event_id"), lit(2)) === 0))))
    assert(res.filesRewritten == 0L, s"insert-only must rewrite nothing: $res")
    assert(TxLog.snapshot(s, t).inputFiles.toSet.intersect(filesV1) == filesV1)
    val snap = TxLog.snapshot(s, t)
    assert(snap.count() == 500L + 50L, s"got ${snap.count()}")
    assert(snap.filter(col("event_id") >= 500).count() == 50L)
    assert(snap.filter(col("event_id") >= 500 &&
      pmod(col("event_id"), lit(2)) === 1).count() == 0L)
    // merge-on-read family agrees on the degenerate
    val t2 = freshTable()
    TxLog.commitAppend(ev.filter(col("event_id") < 500)
      .repartitionByRange(4, col("event_id")), t2)
    TxLog.setTableProperties(s, t2,
      Map("delta.enableDeletionVectors" -> "true"))
    val res2 = TxLog.mergeIntoDvClauses(s, t2, source, Seq("event_id"),
      Seq(NotMatchedInsert(Some(pmod(col("s.event_id"), lit(2)) === 0))))
    assert(res2.filesRewritten == 0L)
    assert(TxLog.snapshot(s, t2).count() == 550L)
  }

  test("NOT MATCHED BY SOURCE clauses: flag/age out unmatched target rows, families agree, CDF typed") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.{MatchedUpdate, NotMatchedInsert,
      NotMatchedBySourceUpdate, NotMatchedBySourceDelete}
    val ev = events
    val source = ev.filter(col("event_id").between(201, 400))
      .withColumn("value", col("value") * 2)
    // by-source bands OVERLAP (401..450 satisfies both clauses):
    // first-match-wins must flag, not delete
    val clauses = Seq(
      MatchedUpdate(Map("value" -> (col("t.value") + col("s.value"))),
        Some(col("s.event_id") <= 300)),
      NotMatchedInsert(Some(col("s.event_id") <= 250)),
      NotMatchedBySourceUpdate(Map("value" -> (-col("t.value"))),
        Some(col("t.event_id").between(401, 480))),
      NotMatchedBySourceDelete(Some(col("t.event_id").between(441, 520))))
    def build(mor: Boolean): String = {
      val t = freshTable()
      TxLog.commitAppend(ev.filter(col("event_id") > 250)
        .repartitionByRange(8, col("event_id")), t)                   // v1
      TxLog.setTableProperties(s, t, Map(
        "delta.enableDeletionVectors" -> mor.toString,
        "delta.enableChangeDataFeed" -> "true"))                      // v2
      if (mor) TxLog.mergeIntoDvClauses(s, t, source, Seq("event_id"), clauses)
      else TxLog.mergeIntoClauses(s, t, source, Seq("event_id"), clauses)
      t
    }
    val tCow = build(mor = false)
    val tMor = build(mor = true)
    val snap = TxLog.snapshot(s, tCow)
    // expected: 201..250 inserted at 2x, 251..300 matched-updated to 3x,
    // 301..400 matched but no accepting clause -> untouched, 401..480
    // by-source flagged (negated; 441..480 overlap resolves to the FIRST
    // clause), 481..520 by-source aged out, > 520 untouched
    val expect = ev.filter(col("event_id").between(201, 250))
      .withColumn("value", col("value") * 2)
      .unionByName(ev.filter(col("event_id").between(251, 300))
        .withColumn("value", col("value") + col("value") * 2))
      .unionByName(ev.filter(col("event_id").between(301, 400)))
      .unionByName(ev.filter(col("event_id").between(401, 480))
        .withColumn("value", -col("value")))
      .unionByName(ev.filter(col("event_id") > 520))
    assert(snap.count() == expect.count(), s"${snap.count()} vs ${expect.count()}")
    assert(snap.select(expect.columns.map(col).toSeq: _*)
      .except(expect).count() == 0, "by-source clause result must be row-exact")
    assert(snap.filter(col("event_id").between(481, 520)).count() == 0,
      "by-source DELETE must age out its band")
    // a by-source clause must never touch a MATCHED row
    assert(snap.filter(col("event_id").between(301, 400))
      .except(ev.filter(col("event_id").between(301, 400))).count() == 0)
    // merge-on-read family: identical rows, no file rewritten
    val morSnap = TxLog.snapshot(s, tMor)
    assert(morSnap.count() == snap.count())
    assert(morSnap.except(snap).count() == 0 && snap.except(morSnap).count() == 0,
      "the two DML families must produce identical full-sync rows")
    // typed feeds agree across families and carry the by-source rows
    def feed(t: String) = TxLog.changeFeed(s, t, 2L, 3L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fCow = feed(tCow); val fMor = feed(tMor)
    assert(fCow == fMor, s"$fCow vs $fMor")
    assert(fCow("delete") == 40L, s"aged-out rows must type delete: $fCow")
    assert(fCow("update_preimage") == 50L + 80L &&
      fCow("update_postimage") == 50L + 80L,
      s"matched + by-source updates must pair pre/post: $fCow")
    assert(fCow("insert") == 50L, fCow.toString)
    // postimages carry the cascade values (negated band)
    val post = TxLog.changeFeed(s, tMor, 2L, 3L)
      .filter(col("_change_type") === "update_postimage" &&
        col("event_id").between(401, 480))
    assert(post.filter(col("value") > 0).count() == 0,
      "by-source postimages must carry the SET value")
    // foreign mirror parity: Delta snapshot + typed tableChanges agree
    assert(graft.sources.DeltaLog.snapshot(s, tMor).count() == snap.count())
    val mByType = graft.sources.DeltaLog.tableChanges(s, tMor, 2L, 3L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mByType == fMor, s"$mByType vs $fMor")
  }

  test("empty-source full sync: by-source clauses drive the whole table") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.{NotMatchedBySourceUpdate, NotMatchedBySourceDelete}
    val ev = events
    val empty = ev.filter(lit(false))
    val clauses = Seq(
      NotMatchedBySourceDelete(Some(col("t.event_id") <= 100)),
      NotMatchedBySourceUpdate(Map("value" -> lit(0.0)),
        Some(col("t.event_id") <= 200)))
    // copy-on-write
    val t = freshTable()
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)
    TxLog.mergeIntoClauses(s, t, empty, Seq("event_id"), clauses)
    val snap = TxLog.snapshot(s, t)
    assert(snap.filter(col("event_id") <= 100).count() == 0,
      "an empty feed must still age out the accepted band")
    assert(snap.filter(col("event_id").between(101, 200) &&
      col("value") =!= 0.0).count() == 0)
    assert(snap.count() == ev.filter(col("event_id") > 100).count())
    // merge-on-read agrees
    val t2 = freshTable()
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t2)
    TxLog.setTableProperties(s, t2,
      Map("delta.enableDeletionVectors" -> "true"))
    TxLog.mergeIntoDvClauses(s, t2, empty, Seq("event_id"), clauses)
    val snap2 = TxLog.snapshot(s, t2)
    assert(snap2.except(snap).count() == 0 && snap.except(snap2).count() == 0)
    // reachability rule applies to the by-source family too
    val e = intercept[IllegalArgumentException](TxLog.mergeIntoClauses(
      s, t, empty, Seq("event_id"), Seq(
        NotMatchedBySourceDelete(None),
        NotMatchedBySourceUpdate(Map("value" -> lit(0.0))))))
    assert(e.getMessage.contains("unreachable"), e.getMessage)
  }

  test("by-source merges rewrite ONLY touched files (discovery pass), inserts see untouched keys") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.{CommitLog, TxLog => TL}
    import graft.sources.TxLog.{MatchedUpdate, NotMatchedInsert,
      NotMatchedBySourceDelete}
    val ev = events
    val t = freshTable()
    // 8 range files: the clauses below touch only the low id bands, so
    // the high-band files must SURVIVE IN PLACE (never rewritten)
    TxLog.commitAppend(ev.repartitionByRange(8, col("event_id")), t) // v1
    val live1 = CommitLog.of(t).liveRelsAt(t, 1L).toSet
    assert(live1.size == 8)
    // source: updates for 100..150, PLUS key 700 (matched, but no
    // clause accepts it — its file must stay untouched) and key 2000
    // (genuinely new — must insert), PLUS a by-source delete band
    val source = ev.filter(col("event_id").between(100, 150) ||
        col("event_id") === 700)
      .unionByName(ev.filter(col("event_id") === 1).withColumn(
        "event_id", lit(2000L)))
    val res = TL.mergeIntoClauses(s, t, source, Seq("event_id"), Seq(
      MatchedUpdate(Map("value" -> (col("t.value") * 2)),
        Some(col("s.event_id").between(100, 150))),
      NotMatchedInsert(None),
      NotMatchedBySourceDelete(Some(col("t.event_id").between(200, 220)))))
    val live2 = CommitLog.of(t).liveRelsAt(t, res.version).toSet
    val kept = live1.intersect(live2)
    assert(res.filesRewritten > 0 && res.filesRewritten < live1.size,
      s"discovery must rewrite a strict subset: $res")
    assert(kept.nonEmpty && live1.size - kept.size == res.filesRewritten,
      s"untouched files must survive the rewrite in place: " +
        s"kept ${kept.size} of ${live1.size}, rewrote ${res.filesRewritten}")
    val snap = TL.snapshot(s, t)
    // correctness unchanged by the narrowing
    assert(snap.filter(col("event_id") === 700).count() == 1,
      "a source key living in an UNTOUCHED file is matched, never inserted")
    assert(snap.filter(col("event_id") === 2000).count() == 1,
      "a genuinely new key still inserts")
    assert(snap.filter(col("event_id").between(200, 220)).count() == 0)
    assert(snap.filter(col("event_id").between(100, 150))
      .join(ev.filter(col("event_id").between(100, 150))
        .select(col("event_id"), (col("value") * 2).as("v2")), "event_id")
      .filter(col("value") =!= col("v2")).count() == 0)
    assert(snap.count() == ev.count() - 21 + 1)
  }

  test("clause MERGE accepts a PARTIAL-WIDTH source: inserts null-fill target-only columns, CDF included") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.{MatchedUpdate, NotMatchedInsert}
    val ev = events
    // source carries ONLY (event_id, value) — the CDC-feed shape
    val source = ev.filter(col("event_id") <= 300)
      .select(col("event_id"), (col("value") * 2).as("value"))
    val clauses = Seq(
      MatchedUpdate(Map("value" -> col("s.value"))),
      NotMatchedInsert(Some(col("s.event_id") > 100)))
    def build(mor: Boolean): String = {
      val t = freshTable()
      TxLog.commitAppend(ev.filter(col("event_id") > 200)
        .repartitionByRange(4, col("event_id")), t)
      TxLog.setTableProperties(s, t, Map(
        "delta.enableDeletionVectors" -> mor.toString,
        "delta.enableChangeDataFeed" -> "true"))
      if (mor) TxLog.mergeIntoDvClauses(s, t, source, Seq("event_id"), clauses)
      else TxLog.mergeIntoClauses(s, t, source, Seq("event_id"), clauses)
      t
    }
    val tCow = build(mor = false)
    val tMor = build(mor = true)
    val a = TxLog.snapshot(s, tCow); val b = TxLog.snapshot(s, tMor)
    // inserted rows (101..200): value doubled, every other column null
    Seq(a, b).foreach { snap =>
      val ins = snap.filter(col("event_id").between(101, 200))
      assert(ins.count() == 100L)
      assert(ins.filter(col("ts").isNotNull || col("user_id").isNotNull)
        .count() == 0, "target-only columns must null-fill on insert")
      // updated rows (201..300) keep their full width
      assert(snap.filter(col("event_id").between(201, 300) &&
        col("ts").isNull).count() == 0)
    }
    assert(a.except(b).count() == 0 && b.except(a).count() == 0,
      "the families must agree on partial-width sources")
    // the typed feed carries the inserts too (this crashed before the
    // fix: the cdc insert branch selected unresolvable target columns)
    def feed(t: String) = TxLog.changeFeed(s, t, 2L, 3L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val f = feed(tCow)
    assert(f == feed(tMor) && f("insert") == 100L, f.toString)
    // schema must NOT regress on the pure-insert degenerate either
    val t3 = freshTable()
    TxLog.commitAppend(ev.filter(col("event_id") > 500), t3)
    TxLog.mergeIntoClauses(s, t3,
      source.filter(col("event_id") <= 200), Seq("event_id"),
      Seq(NotMatchedInsert(None)))
    assert(TxLog.snapshot(s, t3).columns.toSet == ev.columns.toSet,
      "a narrow insert-only merge must not drop table columns")
  }

  test("merge APIs accept NULL-keyed source rows (they can never multiple-match)") {
    val s = spark
    import org.apache.spark.sql.functions._
    import graft.sources.TxLog.NotMatchedInsert
    val ev = events
    val t = freshTable()
    TxLog.commitAppend(ev.filter(col("event_id") < 100), t)
    // two null-keyed rows: stock MERGE accepts them (null === x is never
    // true, so they cannot match any target row — they just insert)
    val src = ev.limit(2).withColumn("event_id", lit(null).cast("long"))
    TxLog.mergeInto(s, t, src, Seq("event_id"))
    assert(TxLog.snapshot(s, t).filter(col("event_id").isNull).count() == 2L)
    TxLog.mergeIntoClauses(s, t, src, Seq("event_id"),
      Seq(NotMatchedInsert(None)))
    assert(TxLog.snapshot(s, t).filter(col("event_id").isNull).count() == 4L)
    // duplicate NON-null keys still refuse
    val dup = ev.limit(1).unionByName(ev.limit(1))
    val e = intercept[RuntimeException](
      TxLog.mergeInto(s, t, dup, Seq("event_id")))
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
  }

  test("whole-row MERGE: inserts compute omitted generated, defaulted " +
      "and identity columns; a source column the table lacks fails") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{DoubleType, StringType}
    // row 1 predates the three governed columns; row 2 provides `tag`
    def table(props: Map[String, String]): String = {
      val t = freshTable()
      TxLog.commitAppend(Seq((1L, 1.0)).toDF("id", "v"), t)
      TxLog.addGeneratedColumn(s, t, "v2", DoubleType, "v * 2")
      TxLog.addColumnWithDefault(s, t, "tag", StringType, "'std'")
      TxLog.addIdentityColumn(s, t, "sid", start = 1L, step = 1L)
      TxLog.setTableProperties(s, t, props)
      TxLog.commitAppend(Seq((2L, 2.0, "vip")).toDF("id", "v", "tag"), t)
      t
    }
    def rows(t: String): Map[Long, Seq[Any]] =
      TxLog.snapshot(s, t).collect().map(r => r.getAs[Long]("id") ->
        Seq("v", "v2", "tag", "sid").map(r.getAs[Any])).toMap
    val merges = Seq[(String, Map[String, String], (String, DataFrame) => Any)](
      ("mergeInto", Map.empty, TxLog.mergeInto(s, _, _, Seq("id"))),
      ("mergeIntoDv", Map("delta.enableDeletionVectors" -> "true"),
        TxLog.mergeIntoDv(s, _, _, Seq("id"))))
    merges.foreach { case (name, props, merge) =>
      val t = table(props)
      assert(rows(t) == Map(1L -> Seq(1.0, null, "std", null),
        2L -> Seq(2.0, 4.0, "vip", 1L)), s"$name: ${rows(t)}")
      // pure insert: no live file can hold id 10, so the merge appends
      merge(t, Seq((10L, 10.0)).toDF("id", "v"))
      assert(rows(t)(10L) == Seq(10.0, 20.0, "std", 2L),
        s"$name pure insert: ${rows(t)}")
      // update plus insert: the updated row recomputes v2 and keeps its
      // tag and sid; the inserted row computes v2 and takes the default
      merge(t, Seq((2L, 5.0), (11L, 11.0)).toDF("id", "v"))
      val after = rows(t)
      assert(after.keySet == Set(1L, 2L, 10L, 11L), s"$name: $after")
      assert(after(1L) == Seq(1.0, null, "std", null), s"$name: $after")
      assert(after(2L) == Seq(5.0, 10.0, "vip", 1L), s"$name: $after")
      assert(after(10L) == Seq(10.0, 20.0, "std", 2L), s"$name: $after")
      assert(after(11L) == Seq(11.0, 22.0, "std", 3L), s"$name: $after")
      // a source column the table lacks fails whether or not a live
      // file can hold the source's keys
      Seq(2L, 50L).foreach { id =>
        val e = intercept[IllegalArgumentException](
          merge(t, Seq((id, 1.0, "x")).toDF("id", "v", "zzz")))
        assert(e.getMessage.contains("unknown SET column(s) zzz"),
          s"$name: ${e.getMessage}")
      }
      assert(rows(t) == after, s"$name: a refused merge changed the table")
    }
  }

  test("whole-row MERGE: mergeInto, mergeIntoDv and both clause merges " +
      "over the upsert list agree row for row and change for change") {
    val s = spark
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import graft.sources.DeltaLog
    import graft.sources.TxLog.{MatchedUpdate, NotMatchedInsert}
    val ev = events
    // event 120 twice: a key two target rows share updates both
    val base = ev.filter(col("event_id") <= 400)
      .unionByName(ev.filter(col("event_id") === 120))
    // updates (100..149 tripled), inserts (ids 0..29 moved past the
    // table) and two NULL-keyed rows, which never match and insert
    val source = ev.filter(col("event_id").between(100, 149))
      .withColumn("value", col("value") * 3)
      .unionByName(ev.filter(col("event_id") < 30)
        .withColumn("event_id", col("event_id") + 100000L))
      .unionByName(ev.filter(col("event_id").between(30, 31))
        .withColumn("event_id", lit(null).cast("long")))
    val keys = Seq("event_id")
    val upsert = Seq(MatchedUpdate(
      source.columns.map(c => c -> col(s"s.$c")).toMap), NotMatchedInsert())
    def sorted(df: DataFrame): Seq[String] =
      df.select(ev.columns.toSeq.map(col): _*).collect()
        .map(_.toString).toSeq.sorted
    val expected = sorted(base.withColumn("value",
        when(col("event_id").between(100, 149), col("value") * 3)
          .otherwise(col("value")))
      .unionByName(source.filter(col("event_id").isNull ||
        col("event_id") >= 100000L)))
    def seeded(props: Map[String, String]): String = {
      val t = freshTable()
      TxLog.commitAppend(base.repartitionByRange(4, col("event_id")), t) // v1
      TxLog.setTableProperties(s, t, props)                              // v2
      t
    }
    val cdf = Map("delta.enableChangeDataFeed" -> "true")
    val dv = cdf + ("delta.enableDeletionVectors" -> "true")
    val merges = Seq[(String, Map[String, String], String => Any)](
      ("mergeInto", cdf, TxLog.mergeInto(s, _, source, keys)),
      ("mergeIntoClauses", cdf, TxLog.mergeIntoClauses(s, _, source, keys, upsert)),
      ("mergeIntoDv", dv, TxLog.mergeIntoDv(s, _, source, keys)),
      ("mergeIntoDvClauses", dv,
        TxLog.mergeIntoDvClauses(s, _, source, keys, upsert)))
    val feeds = merges.map { case (name, props, merge) =>
      val t = seeded(props)
      merge(t)                                                           // v3
      val snap = sorted(TxLog.snapshot(s, t))
      assert(snap == expected, s"$name: snapshot")
      assert(sorted(DeltaLog.snapshot(s, t)) == snap, s"$name: Delta mirror")
      val byType = TxLog.changeFeed(s, t, 2L, 3L).groupBy("_change_type")
        .agg(count(lit(1)), round(sum(col("value")), 6)).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val mirror = DeltaLog.tableChanges(s, t, 2L, 3L)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(mirror == byType.map { case (k, v) => k -> v._1 },
        s"$name: tableChanges $mirror vs changeFeed $byType")
      name -> byType
    }
    feeds.foreach { case (name, byType) =>
      assert(byType == feeds.head._2, s"$name: $byType vs ${feeds.head}") }
    val byType = feeds.head._2
    assert(byType.map { case (k, v) => k -> v._1 } == Map(
      "update_preimage" -> 51L, "update_postimage" -> 51L, "insert" -> 32L),
      byType.toString)
    assert(math.abs(byType("update_postimage")._2 -
      3 * byType("update_preimage")._2) < 1e-3, byType.toString)
    // row-tracked copy-on-write: the updated rows keep their row ids
    val t = freshTable()
    TxLog.commitAppend(ev.limit(0), t)
    TxLog.setTableProperties(s, t, Map("delta.enableRowTracking" -> "true"))
    TxLog.commitAppend(base.coalesce(1).sortWithinPartitions("event_id"), t)
    def ids(): Set[(Long, Long)] = TxLog.snapshotWithRowIds(s, t)
      .filter(col("event_id").isNotNull)
      .select(col("event_id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val pre = ids()
    TxLog.mergeInto(s, t, source, keys)
    val post = ids()
    assert(pre.size == base.count() && pre.subsetOf(post),
      s"renumbered: ${(pre -- post).take(5)}")
    assert(sorted(TxLog.snapshot(s, t)) == expected)
  }

  test("DELETE, UPDATE and MERGE commits name their operation under both table configs") {
    val s = spark
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq("false", "true").foreach { dv =>
      val t = freshTable()
      TxLog.commitAppend(events.filter(col("event_id") < 300)
        .repartitionByRange(3, col("event_id")), t)                   // v1
      TxLog.setTableProperties(s, t,
        Map("delta.enableDeletionVectors" -> dv))                     // v2
      Seq[(String, () => TxLog.RewriteResult)](
        "DELETE" -> (() => TxLog.deleteWhere(s, t, col("event_id") < 10)),
        "UPDATE" -> (() => TxLog.updateWhere(s, t,
          col("event_id").between(20, 29), Map("value" -> lit(1.0)))),
        "MERGE" -> (() => TxLog.mergeInto(s, t,
          events.filter(col("event_id").between(100, 109))
            .withColumn("value", lit(2.0)), Seq("event_id")))
      ).foreach { case (op, run) =>
        val v = run().version
        assert(TxLog.readManifest(java.nio.file.Paths.get(t), v).op
          .contains((op, true)), s"DVs $dv: manifest op of $op")
        // the Delta mirror's version is the manifest's minus one
        val info = Files.readAllLines(java.nio.file.Paths.get(t, "_delta_log",
          f"${v - 1}%020d.json")).asScala.find(_.contains("\"commitInfo\"")).get
        assert(mapper.readTree(info).get("commitInfo").get("operation")
          .asText() == op, s"DVs $dv: $info")
      }
    }
  }

  test("the table property picks the DML strategy; the *Dv names require it") {
    val s = spark
    import org.apache.spark.sql.functions._
    def table(dv: Boolean): String = {
      val t = freshTable()
      TxLog.commitAppend(events.filter(col("event_id") < 300)
        .repartitionByRange(3, col("event_id")), t)
      if (dv) TxLog.setTableProperties(s, t,
        Map("delta.enableDeletionVectors" -> "true"))
      t
    }
    val source = events.filter(col("event_id").between(100, 109))
      .withColumn("value", lit(2.0))
    val dml = Seq[String => TxLog.RewriteResult](
      TxLog.deleteWhere(s, _, col("event_id") < 10),
      TxLog.updateWhere(s, _, col("event_id").between(20, 29),
        Map("value" -> lit(1.0))),
      TxLog.mergeInto(s, _, source, Seq("event_id")))
    // a DV table: no file is removed, every touched file gains a DV
    val dvT = table(dv = true)
    dml.foreach { run =>
      val before = TxLog.liveRelsAt(dvT, TxLog.currentVersion(dvT).get).toSet
      val res = run(dvT)
      val m = TxLog.readManifest(java.nio.file.Paths.get(dvT), res.version)
      assert(before.subsetOf(m.files.toSet), s"a DV table removed files: $res")
      assert(res.filesRewritten > 0 && m.dvs.size >= res.filesRewritten, m.dvs.toString)
    }
    // a plain table: the touched files are rewritten, and no DV is written
    val plainT = table(dv = false)
    dml.foreach { run =>
      val before = TxLog.liveRelsAt(plainT, TxLog.currentVersion(plainT).get).toSet
      val res = run(plainT)
      val m = TxLog.readManifest(java.nio.file.Paths.get(plainT), res.version)
      assert(res.filesRewritten > 0 &&
        (before -- m.files).size.toLong == res.filesRewritten, res.toString)
      assert(m.dvs.isEmpty)
    }
    assert(TxLog.snapshot(s, dvT).except(TxLog.snapshot(s, plainT)).count() == 0 &&
      TxLog.snapshot(s, plainT).except(TxLog.snapshot(s, dvT)).count() == 0)
    // a *Dv name on a plain table fails with the writer gate
    Seq[() => Any](
      () => TxLog.deleteWhereDv(s, plainT, col("event_id") < 10),
      () => TxLog.updateWhereDv(s, plainT, col("event_id") < 10,
        Map("value" -> lit(1.0))),
      () => TxLog.mergeIntoDv(s, plainT, source, Seq("event_id")),
      () => TxLog.mergeIntoDvClauses(s, plainT, source, Seq("event_id"),
        Seq(TxLog.NotMatchedInsert()))
    ).foreach { run =>
      val e = intercept[RuntimeException](run())
      assert(e.getMessage.contains("requires the deletionVectors feature"),
        e.getMessage)
    }
  }

  test("vacuum reclaims expired change-data files, keeps the retained feed intact") {
    val s = spark
    import java.nio.file.{Files => F, Paths => P}
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val t = freshTable()
    val ev = events
    TxLog.commitAppend(ev.repartitionByRange(4, col("event_id")), t)  // v1
    TxLog.setTableProperties(s, t, Map(
      "delta.enableDeletionVectors" -> "true",
      "delta.enableChangeDataFeed" -> "true"))                        // v2
    TxLog.deleteWhereDv(s, t, col("event_id") <= 100,
      Seq(("event_id", null, java.lang.Long.valueOf(100L))))          // v3 (cdc)
    TxLog.updateWhereDv(s, t, col("event_id").between(200L, 250L),
      Map("value" -> (col("value") + 1)),
      Seq(("event_id", java.lang.Long.valueOf(200L),
        java.lang.Long.valueOf(250L))))                               // v4 (cdc)
    TxLog.commitAppend(ev.filter(col("event_id").between(900, 950))
      .withColumn("event_id", col("event_id") + 100000L), t)          // v5
    def cdcFiles(): Set[String] = {
      val root = P.get(t).resolve("_change_data")
      if (!F.isDirectory(root)) Set.empty
      else {
        def walk(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
          val st = F.list(p)
          try st.iterator().asScala.toSeq.flatMap(f =>
            if (F.isDirectory(f)) walk(f) else Seq(f))
          finally st.close()
        }
        walk(root).map(_.toString).filter(_.endsWith(".parquet")).toSet
      }
    }
    val before = cdcFiles()
    assert(before.nonEmpty, "the CDF DML must have written cdc files")
    // retention keeps v4..v5: v3's cdc files expire, v4's survive
    val (deleted, _) = TxLog.vacuum(t, retainVersions = 2, minAgeMs = 0L)
    assert(deleted > 0, "the expired version's cdc files must be swept")
    val after = cdcFiles()
    assert(after.nonEmpty && after.subsetOf(before),
      s"retained cdc files must survive: $after")
    assert(after != before, "v3's cdc files must be gone")
    // the retained feed reads exactly as before the vacuum: v4's cdc
    // files survive (the mirror's typed feed reads them directly), and
    // the in-retention manifest feed still works
    val mByType = graft.sources.DeltaLog.tableChanges(s, t, 3L, 4L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mByType == Map("update_preimage" -> 51L,
      "update_postimage" -> 51L), mByType.toString)
    val byType = TxLog.changeFeed(s, t, 4L, 5L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 51L), byType.toString)
    // a feed across the expired version refuses loudly
    intercept[Exception](TxLog.changeFeed(s, t, 2L, 5L).count())
    // idempotent: a second vacuum finds nothing more to sweep
    assert(TxLog.vacuum(t, retainVersions = 2, minAgeMs = 0L)._1 == 0L)
  }
}
