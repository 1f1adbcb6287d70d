package graft

import org.apache.spark.storage.StorageLevel

import graft.ext.Similarity

/** Session-memo lifecycle: the per-corpus cached frames must be
  * evictable (a long-lived session over many corpora must not pin one
  * block set per corpus forever) and must rebuild lazily after eviction.
  */
class CachesSpec extends SparkSpec {

  test("clearAll unpersists memoized frames; memos rebuild and re-cache on next touch") {
    val dir = "/root/testdata/sf0.001"
    val df = Similarity.sharedVecFrame(spark, dir)
    df.count()
    assert(df.storageLevel.useMemory,
      "the shared vector frame must be cached after first touch")
    Caches.clearAll()
    assert(df.storageLevel == StorageLevel.NONE,
      "clearAll must unpersist the memoized frame")
    val df2 = Similarity.sharedVecFrame(spark, dir)
    assert(df2 ne df, "the memo must have been dropped, not just unpersisted")
    df2.count()
    assert(df2.storageLevel.useMemory, "a fresh touch re-memoizes and re-caches")
    Caches.clearAll()
  }

  test("clearAll on cold memos is a no-op, and queries still run after eviction") {
    Caches.clearAll()
    Caches.clearAll() // idempotent
    val out = Similarity.queries("q_knn_ivf")(spark, "/root/testdata/sf0.001")
    assert(out.count() > 0, "memoized queries must rebuild after eviction")
    Caches.clearAll()
  }

  test("Iceberg metadata JSON parses once per (path, mtime), not per plan") {
    // the rename probes consult current metadata on EVERY micro-batch
    // plan of a foreign tail — a 3-batch drain over an unchanged tree
    // must hit the parsed-metadata LRU, not re-read + re-parse
    val s = spark
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.IcebergLog
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_metacache")
    val b0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 300), root, "b0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0))
    val out = Files.createTempDirectory("graft_metacache_out").toString
    val ckpt = Files.createTempDirectory("graft_metacache_ck").toString
    def drain(): Unit = {
      val q = s.readStream.format("graft-txlog").option("path", root.toString)
        .load()
        .writeStream.option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).format("parquet").start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
    }
    drain() // warm the cache for this metadata version
    val before = IcebergLog.metadataParses.get()
    drain(); drain() // two more drains over the UNCHANGED tree
    val cold = IcebergLog.metadataParses.get() - before
    assert(cold == 0, s"unchanged metadata re-parsed $cold times")
    // a NEW metadata version (new snapshot) is a legitimate cold parse
    val b1 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") >= 300), root, "b1.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b1))
    drain()
    assert(IcebergLog.metadataParses.get() > before,
      "a new metadata version must parse cold")
    assert(s.read.parquet(out).count() == ev.count())
  }

  test("reader-factory conf broadcast: memo hit on unchanged conf, miss after a session conf change") {
    // newHadoopConfWithOptions folds the WHOLE session conf into the
    // broadcast configuration, so the memo key must cover more than the
    // explicitly-copied values: any session conf change — including one
    // the factory never reads directly — must miss and rebuild, or
    // readers would see a stale conf
    val s = spark
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import graft.sources.IcebergLog
    import graft.streaming.TxLogScan
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val root = Files.createTempDirectory("graft_confbc")
    val b0 = IcebergLog.writeDataFile(
      ev.filter(col("event_id") < 300), root, "b0.parquet")
    IcebergLog.appendForeignSnapshot(root, ev.schema, Seq(b0))
    def readOnce(): Long =
      s.read.format("graft-txlog").option("path", root.toString).load().count()
    val n = readOnce() // first build for this (table, conf)
    val before = TxLogScan.confBcBuilds.get()
    readOnce(); readOnce()
    assert(TxLogScan.confBcBuilds.get() == before,
      "re-reads under an unchanged conf must hit the broadcast memo")
    val key = "spark.hadoop.graft.test.confbc.fingerprint"
    s.conf.set(key, "v1")
    try {
      readOnce()
      assert(TxLogScan.confBcBuilds.get() == before + 1,
        "a session conf change must miss the memo and rebuild")
      val after = TxLogScan.confBcBuilds.get()
      assert(readOnce() == n)
      assert(TxLogScan.confBcBuilds.get() == after,
        "the changed conf memoizes in turn")
    } finally s.conf.unset(key)
  }

  test("conf broadcast key: same entries in any order give one key; a changed value gives another") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    import graft.streaming.TxLogScan
    val entries = (1 to 40).map(i => s"graft.test.k$i" -> s"v$i")
    def hadoop(kvs: Seq[(String, String)]): Iterable[(String, String)] = {
      val c = new Configuration(false)
      kvs.foreach { case (k, v) => c.set(k, v) }
      c.asScala.map(e => e.getKey -> e.getValue)
    }
    def sql(kvs: Seq[(String, String)]) =
      scala.collection.immutable.ListMap(kvs: _*)
    val key = TxLogScan.confDigest(hadoop(entries), sql(entries))
    assert(TxLogScan.confDigest(hadoop(entries.reverse), sql(entries.reverse)) == key,
      "insertion order must not change the key")
    val changed = entries.updated(17, entries(17)._1 -> "other")
    assert(TxLogScan.confDigest(hadoop(changed), sql(entries)) != key,
      "a changed Hadoop value must change the key")
    assert(TxLogScan.confDigest(hadoop(entries), sql(changed)) != key,
      "a changed SQL value must change the key")
    assert(TxLogScan.confDigest(hadoop(entries), Nil) !=
      TxLogScan.confDigest(Nil, sql(entries)),
      "an entry must not alias across the two confs")
  }
}
