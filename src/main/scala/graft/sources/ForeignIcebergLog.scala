package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** FOREIGN-Iceberg commit history: the [[CommitLog]] primitives derived
  * from a STOCK Apache Iceberg v1/v2 tree (the `metadata/` JSON +
  * avro manifests — iceberg.apache.org/spec), so
  * `format("graft-txlog")` can tail an Iceberg table some other writer
  * owns, exactly as [[ForeignDeltaLog]] does for stock `_delta_log`
  * tables. The reference's lake is a directory of parquet another
  * process appends to; Iceberg is the other table format a production
  * deployment of that shape converges on.
  *
  * Version mapping: graft versions are the table's SEQUENCE NUMBERS
  * over the MAIN timeline (the spec's per-commit monotone counter —
  * stable across snapshot expiry, unlike list indexes; `snapshot-log`
  * supplies the main-line order, branch/WAP snapshots never enter).
  * v1 trees (no sequence numbers — all 0) fall back to 1-based
  * main-line ordinals; NOTE that ordinal offsets are stable only while
  * the owner expires no snapshot (expiry renumbers the list — resume a
  * v1-tree stream from a fresh checkpoint after an expiry, exactly as
  * a vacuumed-prefix Delta stream restarts). Sequence numbers, the v2
  * path every current writer produces, have no such caveat. A sequence
  * number with no main-line snapshot (consumed by a branch) is an
  * EMPTY version: the stream delivers nothing for it.
  *
  * Derivations:
  *  - per-version adds/removes by diffing consecutive snapshots' live
  *    DATA file sets (manifest walk, cached — snapshots are immutable);
  *    a `replace` (compaction) snapshot carries NO new rows and maps to
  *    (OPTIMIZE, dataChange=false), the protocol's bytes-only shape;
  *  - `#op`: append → WRITE, replace → OPTIMIZE, delete → DELETE,
  *    overwrite → OVERWRITE — or MERGE when the overwrite ALSO adds
  *    delete files (the MoR row-delta shape, whose appended batch mixes
  *    postimages and inserts exactly like a graft MERGE);
  *  - `#dv`: delete files folded into per-data-file inline roaring
  *    descriptors ("i" storage, the Delta form the shared scan already
  *    applies) — POSITION deletes directly (the spec's `dataSeq <=
  *    deleteSeq` rule), EQUALITY deletes by first RESOLVING values to
  *    positions executor-side ([[eqHiddenFrames]]: key-column scan with
  *    `_metadata` provenance, null-safe semi-join, STRICTLY-older
  *    sequence rule — the batch reader's own predicate). MoR DELETE
  *    commits thus plan exactly like native DV commits: nothing
  *    re-delivered on an append stream, hidden-row synthesis on a CDF
  *    stream — for both delete-file forms, including the Flink-CDC
  *    eq-delete shape.
  *
  * Scale + scope ceilings (documented, loud):
  *  - the delete-file fold is EXECUTOR-side end to end ([[hiddenAt]]):
  *    matched positions reduce to per-file roaring bitmaps via
  *    [[graft.functions.DvBitmapAgg]] and the driver collects
  *    O(affected files) bitmap-byte rows — KBs per file — never
  *    O(deleted rows) tuples (a MoR table accumulates delete files
  *    between compactions, so anything row-proportional on the driver
  *    would grow with table HISTORY, not change size);
  *  - identity-partitioned trees stream only when the data files CARRY
  *    their partition columns in-file (what real Iceberg writers store;
  *    probed once against one footer) — hive-layout trees whose values
  *    live only in manifests refuse with a pointer to the batch reader.
  */
object ForeignIcebergLog extends CommitLog {

  /** A dir with an Iceberg `metadata/` tree but neither graft manifests
    * nor a Delta log: some other Iceberg writer owns it. */
  def isForeign(dir: String): Boolean = {
    val table = Paths.get(dir)
    !Files.isDirectory(table.resolve("_txlog")) &&
      !Files.isDirectory(table.resolve("_delta_log")) &&
      Files.isDirectory(table.resolve("metadata")) &&
      scala.util.Try(IcebergLog.currentMetadataPath(table)).isSuccess
  }

  private def longOf(n: JsonNode, f: String, dflt: Long = 0L): Long =
    Option(n.get(f)).map(_.asLong()).getOrElse(dflt)

  /** Tiny synchronized LRU for the driver-side metadata caches below:
    * every entry is an immutable derivation (re-parseable on a miss),
    * so eviction costs only a re-read. Bounds a long-lived tail over
    * an ACTIVE foreign table — unbounded, the caches would accrete one
    * entry per metadata version / snapshot for the stream's lifetime
    * (round-12 advisory); bounded, a resume can still reference the
    * last few snapshots warm and anything older re-derives. */
  private[sources] final class Lru[K, V](cap: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > cap
    }
    /** Compute OUTSIDE the monitor: a miss may run a multi-second
      * driver-side Spark job (the hidden-ordinal fold), and holding the
      * lock through it would serialize every other stream on this
      * cache. Values are immutable derivations, so a racing duplicate
      * compute is merely wasted work, never wrong. */
    def get(k: K)(f: => V): V =
      m.synchronized(Option(m.get(k))) match {
        case Some(v) => v
        case None =>
          val v = f
          m.synchronized { m.put(k, v); () }
          v
      }
  }

  /** Main-line snapshots as (graft version, snapshot node), oldest
    * first — cached per metadata file (immutable once written;
    * superseded metadata versions age out of the small LRU). */
  private val lineCache = new Lru[String, Seq[(Long, JsonNode)]](4)

  private def mainLine(dir: String): Seq[(Long, JsonNode)] = {
    val table = Paths.get(dir)
    val metaPath = IcebergLog.currentMetadataPath(table)
      .toAbsolutePath.toString
    lineCache.get(metaPath) {
      val meta = IcebergLog.readMetadata(table)
      val snaps = Option(meta.get("snapshots"))
        .map(_.asScala.toSeq).getOrElse(Seq.empty)
      val byId = snaps.map(s => s.get("snapshot-id").asLong() -> s).toMap
      val ordered: Seq[JsonNode] =
        Option(meta.get("snapshot-log")).map(_.asScala.toSeq
            .flatMap(e => byId.get(e.get("snapshot-id").asLong())))
          .filter(_.nonEmpty)
          .getOrElse(snaps.sortBy(s =>
            (longOf(s, "sequence-number"), longOf(s, "timestamp-ms"))))
      val maxSeq = ordered.map(longOf(_, "sequence-number")).maxOption
        .getOrElse(0L)
      if (maxSeq > 0L) ordered.map(s => longOf(s, "sequence-number") -> s)
      else ordered.zipWithIndex.map { case (s, i) => (i + 1L) -> s }
    }
  }

  def currentVersion(dir: String): Option[Long] =
    mainLine(dir).lastOption.map(_._1)

  /** Newest main-line snapshot at or below `v` (gap versions resolve to
    * their predecessor's state, like a Delta version range). */
  private def snapAtOrBefore(dir: String, v: Long): Option[(Long, JsonNode)] =
    mainLine(dir).filter(_._1 <= v).lastOption

  private def operationOf(s: JsonNode): String =
    Option(s.get("summary")).flatMap(n => Option(n.get("operation")))
      .map(_.asText()).getOrElse("append")

  /** Canonical filesystem spelling of a spec path (absolute URI,
    * absolute path, or table-relative). Delete-file `file_path` VALUES
    * may arrive URI-escaped — decode those to the same form the
    * manifest resolution produces. */
  private def canon(table: Path, p: String): String =
    if (p.startsWith("file:"))
      java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")
        .replaceFirst("^file:/+", "/")
    else IcebergLog.resolve(table, p).toAbsolutePath.normalize().toString

  /** A snapshot's live file sets, cached per (table, snapshot id) —
    * manifests are immutable; old snapshots age out of the LRU. */
  private val filesCache = new Lru[(String, Long), IcebergLog.SnapshotFiles](64)

  private def liveAt(dir: String, snap: JsonNode): IcebergLog.SnapshotFiles = {
    val table = Paths.get(dir)
    val sid = snap.get("snapshot-id").asLong()
    filesCache.get((table.toAbsolutePath.toString, sid)) {
      IcebergLog.liveFilesOf(table, snap.get("manifest-list").asText())
    }
  }

  private def dataRels(dir: String, snap: JsonNode): Set[String] = {
    val table = Paths.get(dir)
    liveAt(dir, snap).data.map(f => canon(table, f.path.toString)).toSet
  }

  /** dataChange adds/removes of one version. `replace` snapshots carry
    * no new rows (their re-adds are rewrites) — empty, like a native
    * OPTIMIZE. A gap version (sequence number with no main-line
    * snapshot) is empty by construction. */
  def commitDelta(dir: String, v: Long): (Seq[String], Seq[String]) = {
    val line = mainLine(dir)
    val cur = line.find(_._1 == v).getOrElse(return (Seq.empty, Seq.empty))._2
    if (operationOf(cur) == "replace") return (Seq.empty, Seq.empty)
    val curSet = dataRels(dir, cur)
    val prevSet = line.filter(_._1 < v).lastOption
      .map(p => dataRels(dir, p._2)).getOrElse(Set.empty[String])
    ((curSet -- prevSet).toSeq.sorted, (prevSet -- curSet).toSeq.sorted)
  }

  /** Live DATA file rels at version `v` (canonical absolute paths the
    * shared scan resolves as-is). */
  def liveRelsAt(dir: String, v: Long): Seq[String] =
    snapAtOrBefore(dir, v).map(s => dataRels(dir, s._2).toSeq.sorted)
      .getOrElse(Seq.empty)

  /** (operation, dataChange) of one version — see the object doc for
    * the mapping. */
  def manifestOp(dir: String, v: Long): Option[(String, Boolean)] = {
    val line = mainLine(dir)
    line.find(_._1 == v) match {
      case None => Some(("WRITE", false)) // gap: nothing happened here
      case Some((_, s)) => operationOf(s) match {
        case "append" => Some(("WRITE", true))
        case "replace" => Some(("OPTIMIZE", false))
        case "delete" => Some(("DELETE", true))
        case "overwrite" =>
          // MoR row-delta (adds delete files, position OR equality):
          // the appended batch mixes postimages and inserts — a graft
          // MERGE's exact CDF contract
          def delSet(sn: JsonNode): Set[String] = {
            val sf = liveAt(dir, sn)
            (sf.posDeletes.map(_._1.toString) ++
              sf.eqDeletes.map(_._1.toString)).toSet
          }
          val prevDel = line.filter(_._1 < v).lastOption
            .map(p => delSet(p._2)).getOrElse(Set.empty[String])
          Some((if ((delSet(s) -- prevDel).nonEmpty) "MERGE" else "OVERWRITE",
            true))
        case other => Some((other.toUpperCase(java.util.Locale.ROOT), true))
      }
    }
  }

  /** Per-data-file hidden ordinals at a snapshot, as SERIALIZED roaring
    * bitmaps (the portable RoaringBitmapArray form the DV descriptors
    * carry verbatim): every live delete file's matched positions,
    * sequence rules applied. The fold is EXECUTOR-side end to end —
    * position-delete parquet and eq-delete resolution both reduce
    * through [[graft.functions.DvBitmapAgg]] per file, so the driver
    * collects O(affected files) rows of KB-scale bitmap bytes, never
    * O(deleted rows) (file, pos) tuples. That matters because a
    * Flink-style MoR table ACCUMULATES delete files between
    * compactions: a per-snapshot fold proportional to total deleted
    * rows grows with table history; this one is proportional to
    * affected-file count on the driver. Cached by FOLD-INPUT
    * fingerprint, not snapshot id: the fold's output is a pure
    * function of the live delete files (path/sequence/equality ids),
    * the data files old enough to be affected by them, and — for
    * eq-deletes — the schema history the key columns resolve through.
    * An APPEND snapshot advances the snapshot id but changes none of
    * those inputs (the new file postdates every delete), so a tailing
    * stream over the dominant append-mostly MoR shape re-plans in a
    * map lookup instead of re-running the multi-job Spark fold once
    * per appended snapshot — O(delete-set changes), not O(snapshots).
    * The LRU is the smallest (a tailing stream references the previous
    * and current delete-sets; anything older is a cold resume). */
  private val hiddenCache = new Lru[(String, String), Map[String, Array[Byte]]](16)

  /** Fingerprint of every input [[hiddenAt]]'s fold result is derived
    * from. Iceberg files are immutable and never rewritten in place, so
    * (path, sequence) identifies a delete/data file's contribution;
    * data files at or past every delete's sequence cannot be affected
    * (the strictly-older eq rule; `dataSeq <= deleteSeq` for position
    * deletes whose named files are unknown without reading them — so
    * any position delete keeps ALL data files in the key, the
    * conservative direction). The schemas history covers key-column
    * names, renames (field-id resolution switch) and types. */
  private def foldKey(dir: String, sf: IcebergLog.SnapshotFiles): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0: Byte) }
    sf.posDeletes.map { case (p, s) => s"P|$p|$s" }.sorted.foreach(add)
    sf.eqDeletes.map { case (p, s, ids) => s"E|$p|$s|${ids.mkString(",")}" }
      .sorted.foreach(add)
    val affected =
      if (sf.posDeletes.nonEmpty) sf.data
      else {
        val maxEq = sf.eqDeletes.map(_._2).max
        sf.data.filter(_.seq < maxEq)
      }
    affected.map(f => s"D|${f.path}|${f.seq}").sorted.foreach(add)
    if (sf.eqDeletes.nonEmpty) {
      val meta = IcebergLog.readMetadata(Paths.get(dir))
      add(Option(meta.get("schemas")).map(_.toString).getOrElse(""))
      add(Option(meta.get("current-schema-id")).map(_.toString).getOrElse(""))
    }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Observability for specs: (rows the driver collected, total hidden
    * cardinality, total bitmap bytes) of the most recent [[hiddenAt]]
    * fold — proves the driver received per-file bitmaps, not row
    * tuples (rows == affected files << cardinality on a large-delete
    * fixture). */
  @volatile private[graft] var lastHiddenFold: Option[(Int, Long, Long)] = None

  private def hiddenAt(dir: String, snap: JsonNode): Map[String, Array[Byte]] = {
    val table = Paths.get(dir)
    val sf = liveAt(dir, snap)
    if (sf.posDeletes.isEmpty && sf.eqDeletes.isEmpty) return Map.empty
    hiddenCache.get((table.toAbsolutePath.toString, foldKey(dir, sf))) {
      val spark = SparkSession.getActiveSession.getOrElse(
        sys.error("graft-txlog: no active SparkSession"))
      val frames = posHiddenFrame(spark, table, sf).toSeq ++
        eqHiddenFrames(spark, dir, sf)
      if (frames.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.col
        val rows = frames.reduce(_.unionByName(_))
          .groupBy(col("__file"))
          .agg(graft.functions.DvBitmapAgg.dvAgg(col("__pos")).as("__dv"))
          .collect()
        val out = rows.iterator
          .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
        lastHiddenFold = Some((rows.length,
          out.valuesIterator.map(b => DeletionVectors.parse(b).cardinality).sum,
          out.valuesIterator.map(_.length.toLong).sum))
        out
      }
    }
  }

  /** Position deletes as a lazy (__file, __pos) frame: the delete
    * parquet scans, path canonicalization, and the spec's
    * `dataSeq <= deleteSeq` rule all run executor-side (one broadcast
    * (file → sequence) join); deletes naming files not live at this
    * snapshot drop in the join, the old driver fold's filter rule. */
  private def posHiddenFrame(spark: SparkSession, table: Path,
      sf: IcebergLog.SnapshotFiles): Option[org.apache.spark.sql.DataFrame] = {
    if (sf.posDeletes.isEmpty) return None
    import org.apache.spark.sql.functions._
    val seqRows = sf.data
      .map(f => org.apache.spark.sql.Row(canon(table, f.path.toString), f.seq))
    val seqDf = spark.createDataFrame(seqRows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__sf",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("__seq",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // pos casts to long defensively — the spec says int64, but an
    // int32-writing engine must not crash the fold
    val dels = sf.posDeletes.map { case (p, dseq) =>
      spark.read.parquet(p.toString)
        .select(canonCol(table)(col("file_path")).as("__file"),
          col("pos").cast("long").as("__pos"),
          lit(dseq).as("__dseq"))
    }.reduce(_.unionByName(_))
    Some(dels.join(broadcast(seqDf), col("__file") === col("__sf"))
      .filter(col("__seq") <= col("__dseq"))
      .select(col("__file"), col("__pos")))
  }

  /** Executor-side twin of [[canon]] — the same spelling rule as a
    * column function, so delete-file `file_path` values canonicalize
    * inside the scan instead of row-by-row on the driver. The closure
    * captures only the table's absolute-path STRING (serializable;
    * executors never touch the driver's Path objects). */
  private def canonCol(table: Path)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val tableAbs = table.toAbsolutePath.toString
    org.apache.spark.sql.functions.udf((p: String) =>
      if (p.startsWith("file:"))
        java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")
          .replaceFirst("^file:/+", "/")
      else {
        val pp = Paths.get(p)
        (if (pp.isAbsolute) pp else Paths.get(tableAbs).resolve(pp))
          .toAbsolutePath.normalize().toString
      })
  }

  /** EQUALITY deletes resolved to POSITIONS, so the tail can fold them
    * into the same inline DV descriptors position deletes use (Flink
    * CDC — the dominant Iceberg streaming writer — emits eq-deletes on
    * every upsert; refusing them would bar the most common MoR tree).
    * Resolution is EXECUTOR-side: the affected data files' key columns
    * scan WITH `_metadata` provenance and semi-join the delete rows
    * null-safely under the STRICTLY-OLDER sequence rule — the same
    * predicate [[IcebergLog.snapshot]]'s batch anti-join applies, so
    * the two paths cannot diverge on survivor sets. Returns LAZY
    * (__file, __pos) frames per equality-id group; [[hiddenAt]] folds
    * them through the per-file bitmap aggregate, so matched positions
    * never ride to the driver as rows. */
  private def eqHiddenFrames(spark: SparkSession, dir: String,
      sf: IcebergLog.SnapshotFiles): Seq[org.apache.spark.sql.DataFrame] = {
    if (sf.eqDeletes.isEmpty) return Seq.empty
    import org.apache.spark.sql.functions._
    val table = Paths.get(dir)
    val metaNode = IcebergLog.readMetadata(table)
    val fieldName = IcebergLog.fieldNamesById(metaNode)
    // key columns resolve in candidate files BY CURRENT NAME — sound
    // only while the name never changed: a key column renamed after
    // older data files were written would read as null there and the
    // null-safe join could mis-resolve the delete (deleted rows
    // resurrect). Stock Iceberg resolves by field id; until this path
    // does, a renamed key column refuses loudly instead of guessing.
    val namesEver = IcebergLog.fieldNamesByIdAcrossSchemas(metaNode)
    var pruneTally = (0, 0)
    val out = sf.eqDeletes.groupBy(_._3).toSeq.flatMap { case (ids, group) =>
      val names = ids.map(id => fieldName.getOrElse(id, sys.error(
        s"$dir: equality_ids name unknown field id $id")))
      val fieldIds = IcebergLog.boundsFieldIds(dir, metaNode)
      // a key column RENAMED across the schema history resolves in
      // candidate AND delete files by PARQUET FIELD ID — stock
      // Iceberg's own rule: a by-name read would bind the old
      // spelling's files to null and resurrect deleted rows. The
      // requested key schema carries `parquet.field.id` metadata and
      // the session flag enables the resolution; files WITHOUT stamped
      // ids then fail loudly (Spark's field-id read errors on id-less
      // files — a shape no spec-conformant Iceberg writer produces),
      // never null-fill.
      val renamed = ids.exists(id =>
        namesEver.getOrElse(id, Set.empty).size > 1)
      val keySchema: Option[org.apache.spark.sql.types.StructType] =
        if (!renamed) None
        else Some(org.apache.spark.sql.types.StructType(
          ids.zip(names).map { case (id, n) =>
            val dt = fieldIds.get(n).map(_._2).getOrElse(sys.error(
              s"$dir: equality-delete key '$n' was renamed across the " +
                "schema history and its type has no field-id-readable " +
                "Spark mapping — cannot resolve the deletes"))
            org.apache.spark.sql.types.StructField(n, dt, nullable = true,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putLong("parquet.field.id", id.toLong).build())
          }))
      // the session flag enables STICKY (never save/restored): a
      // save/restore would race concurrent folds on the shared session
      // (one fold's restore-to-unset mid-flight in another's id-keyed
      // read silently null-fills renamed key columns) AND would close
      // the window before these frames' DEFERRED execution in
      // [[hiddenAt]]'s combined aggregate. One shared rule with the
      // scan (explicit-false refuses loudly, default-false enables).
      if (keySchema.isDefined)
        CommitLog.ensureFieldIdSessionFlag(spark, dir)
      // a delete only ever hides rows of STRICTLY older files — files
      // at or past the newest delete's sequence can skip the scan
      val maxDel = group.map(_._2).max
      val older = sf.data.filter(_.seq < maxDel)
      if (older.isEmpty) Seq.empty
      else {
        val dels = group.map { case (p, dseq, _) =>
          keySchema.map(spark.read.schema).getOrElse(spark.read)
            .parquet(p.toString)
            .select(names.map(n => col(n).as(s"__del_$n")) :+
              lit(dseq).as("__del_seq"): _*)
        }.reduce(_.unionByName(_))
        // MANIFEST-BOUNDS CANDIDATE PRUNING: one tiny agg over the
        // delete rows (O(deleted rows) — already this fold's ceiling)
        // computes the delete batch's per-key-column envelope, and
        // every strictly-older file whose manifest bounds prove it
        // DISJOINT from the envelope skips the key-column scan — the
        // same envelope move TxLog.mergeIntoClauses makes with its
        // source keys. Narrow upserts then scan O(affected files), not
        // O(corpus). Sound directions only: a key column with ANY null
        // delete value never prunes (bounds don't speak for nulls the
        // null-safe join may match), ditto NaN on float/double keys
        // (`<=>` matches NaN = NaN but min/max and spec bounds both
        // exclude NaN), and absent/undecodable bounds never prune
        // (fileSurvives' own rule).
        def floaty(n: String): Boolean = fieldIds.get(n).exists(t =>
          t._2 == org.apache.spark.sql.types.FloatType ||
            t._2 == org.apache.spark.sql.types.DoubleType)
        val aggs = count(lit(1)).as("__n") +: names.flatMap { n =>
          val c = col(s"__del_$n")
          val unbounded = if (floaty(n)) c.isNull || isnan(c) else c.isNull
          Seq(min(c), max(c), sum(when(unbounded, 1L).otherwise(0L)))
        }
        val env = dels.agg(aggs.head, aggs.tail: _*).collect()(0)
        if (env.getLong(0) == 0L) Seq.empty
        else {
          val preds = names.zipWithIndex.flatMap { case (n, i) =>
            val base = 1 + i * 3
            if (env.getLong(base + 2) > 0L) None
            else Some((n, env.get(base), env.get(base + 1)))
          }
          val cands =
            if (preds.isEmpty) older
            else older.filter(f => IcebergLog.fileSurvives(f, preds, fieldIds))
          pruneTally = (pruneTally._1 + older.size, pruneTally._2 + cands.size)
          if (cands.isEmpty) Seq.empty
          else Seq(eqResolve(spark, table, names, dels, cands, keySchema))
        }
      }
    }
    if (pruneTally._1 > 0) lastEqPrune = Some(pruneTally)
    out
  }

  /** Observability for specs: (strictly-older candidates, files kept)
    * across the most recent [[eqHiddenFrames]] fold — proves the
    * envelope pruning actually skipped files before any key-column IO. */
  @volatile private[graft] var lastEqPrune: Option[(Int, Int)] = None

  /** Resolve one equality-id group's delete rows against the surviving
    * candidate files as a LAZY (__file, __pos) frame — executor-side
    * scan + null-safe semi-join under the strictly-older rule (see
    * [[eqHiddenFrames]]); executed inside [[hiddenAt]]'s combined
    * per-file bitmap aggregate. */
  private def eqResolve(spark: SparkSession, table: Path,
      names: Seq[String],
      dels: org.apache.spark.sql.DataFrame,
      cands: Seq[IcebergLog.IceFile],
      keySchema: Option[StructType]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // path canonicalization executor-side — the batch reader's ONE
    // shared spelling rule (URI-escaped `_metadata.file_path` vs
    // whatever the delete writer stored)
    val norm = IcebergLog.normPathCol _
    {
        val seqRows = cands
          .map(f => org.apache.spark.sql.Row(canon(table, f.path.toString), f.seq))
        val seqDf = spark.createDataFrame(seqRows.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("__sf",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("__seq",
              org.apache.spark.sql.types.LongType, nullable = false))))
        val cond = names.map(n => col(n) <=> col(s"__del_$n")).reduce(_ && _) &&
          col("__seq") < col("__del_seq")
        // a renamed key reads candidates by field id (see eqHiddenAt);
        // the caller's conf window is still open around this collect
        keySchema.map(spark.read.schema).getOrElse(spark.read)
          .parquet(cands.map(_.path.toString): _*)
          .select(names.map(col) :+
            norm(col("_metadata.file_path")).as("__file") :+
            col("_metadata.row_index").as("__pos"): _*)
          .join(broadcast(seqDf), col("__file") === col("__sf"), "left")
          // FAIL CLOSED on coverage gaps, the batch reader's own rule:
          // a row whose normalized path missed the sequence map would
          // silently skip the delete test and RESURRECT deleted rows —
          // surface the canonicalization bug at execution instead
          .withColumn("__seq", when(col("__seq").isNotNull, col("__seq"))
            .otherwise(raise_error(concat(
              lit("iceberg eq-delete fold: data file missing from the " +
                "snapshot's sequence-number map (path canonicalization " +
                "bug?): "), col("__file")))))
          .join(dels, cond, "left_semi")
          .select(col("__file"), col("__pos"))
    }
  }

  /** Per-file DV descriptor JSONs in force at version `v` — position
    * deletes folded to the inline ("i") roaring form the shared scan
    * applies natively. */
  def manifestDvs(dir: String, v: Long): Map[String, String] =
    snapAtOrBefore(dir, v).map { case (_, snap) =>
      hiddenAt(dir, snap).map { case (f, bytes) =>
        // bytes arrive already in descriptor form from the executor-side
        // fold; cardinality reads the container headers, O(containers)
        f -> (s"""{"storageType":"i","pathOrInlineDv":""" +
          s""""${DeletionVectors.z85Encode(bytes)}",""" +
          s""""sizeInBytes":${bytes.length},""" +
          s""""cardinality":${DeletionVectors.parse(bytes).cardinality}}""")
      }
    }.getOrElse(Map.empty)

  /** Iceberg has no change-data files in the tree — MoR DELETE commits
    * replay through the DV-diff synthesis, MERGE-shaped commits refuse
    * (or skip), exactly the native cdc-less contract. */
  def manifestCdc(dir: String, v: Long): Seq[String] = Seq.empty

  /** Partition columns as SCAN-APPENDED columns: the identity-partition
    * columns whose values do NOT ride the data files in-file — the
    * hive/`add_files`-migrated layout, where values live only in the
    * manifests' partition tuples. The shared scan then appends them per
    * file from [[filePartitionValues]], exactly as it appends a hive
    * Delta table's path-segment values. Empty when files carry their
    * values in-file (what real Iceberg writers store — the columns
    * read as ordinary data) or the table is unpartitioned. */
  def partitionColumnsOf(dir: String): Seq[String] = hiveLayoutCols(dir)

  /** Manifest-tuple partition VALUES of every live data file at version
    * `v` (canonical absolute path → column → stringified identity
    * value) — the scan's per-file append source on hive-layout trees.
    * Derived from the cached [[liveAt]] snapshot walk, O(files) map
    * build per (version, scan). */
  override def filePartitionValues(dir: String,
      v: Long): Map[String, Map[String, String]] =
    if (hiveLayoutCols(dir).isEmpty) Map.empty
    else {
      val table = Paths.get(dir)
      snapAtOrBefore(dir, v).map { case (_, snap) =>
        liveAt(dir, snap).data
          .map(f => canon(table, f.path.toString) -> f.partition).toMap
      }.getOrElse(Map.empty)
    }

  /** Identity-partition probe results, cached per metadata file (one
    * probe per metadata VERSION, as advertised — not per schema()
    * call, which planning invokes repeatedly). Holds the columns the
    * scan must APPEND (probe: one footer per distinct partition
    * key-set; a column missing from ANY probed footer appends
    * globally — appended values come from the manifest tuples, which
    * are authoritative for carrying and non-carrying files alike). */
  private val probeCache = new Lru[String, Seq[String]](4)

  private def hiveLayoutCols(dir: String): Seq[String] = {
    val table = Paths.get(dir)
    val metaPath = IcebergLog.currentMetadataPath(table)
      .toAbsolutePath.toString
    probeCache.get(metaPath) {
      mainLine(dir).lastOption.map { case (_, snap) =>
        val sf = liveAt(dir, snap)
        if (sf.data.isEmpty || sf.data.forall(_.partition.isEmpty)) Seq.empty
        else {
          val spark = SparkSession.getActiveSession.getOrElse(
            sys.error("graft-txlog: no active SparkSession"))
          val meta = IcebergLog.readMetadata(table)
          // identity fields only: a transform field (days/bucket/…)
          // names no schema column and never enters the read schema
          val schemaCols = IcebergLog.currentSchema(meta, None)
            .map(_.fieldNames.toSet).getOrElse(Set.empty)
          sf.data.filter(_.partition.nonEmpty)
            .groupBy(_.partition.keySet.toSeq.sorted)
            .toSeq.sortBy(_._1.mkString(","))
            .flatMap { case (pKeys, fs) =>
              val inFile = spark.read.parquet(fs.head.path.toString)
                .schema.fieldNames.toSet
              pKeys.filter(schemaCols).filterNot(inFile)
            }.distinct
        }
      }.getOrElse(Seq.empty)
    }
  }

  private def schemaFor(spark: SparkSession, dir: String,
      sid: Option[Int]): StructType = {
    val table = Paths.get(dir)
    val meta = IcebergLog.readMetadata(table)
    IcebergLog.currentSchema(meta, sid).getOrElse(
      sys.error(s"$dir: the Iceberg schema carries a type the engine " +
        "does not map — refusing to infer"))
  }

  def schema(spark: SparkSession, dir: String): StructType =
    schemaFor(spark, dir, None)

  /** Table schema AT a version: the snapshot's own recorded schema-id
    * (time travel presents that era's columns). */
  def schemaAt(spark: SparkSession, dir: String, v: Long): StructType = {
    val sid = snapAtOrBefore(dir, v)
      .flatMap(s => Option(s._2.get("schema-id")).map(_.asInt()))
    schemaFor(spark, dir, sid)
  }

  /** The schema version `v` DECLARED: defined only when the snapshot's
    * recorded `schema-id` DIFFERS from its main-line predecessor's (the
    * Iceberg spelling of "this commit changed the schema") — resolved
    * from the already-cached metadata, no IO. The first main-line
    * snapshot declares its own schema, mirroring Delta's commit-0
    * metaData. Gap versions (no snapshot) declare nothing. */
  def declaredSchemaAt(dir: String, v: Long): Option[StructType] = {
    val line = mainLine(dir)
    line.find(_._1 == v).flatMap { case (_, s) =>
      val sid = Option(s.get("schema-id")).map(_.asInt())
      val prevSid = line.filter(_._1 < v).lastOption
        .flatMap(p => Option(p._2.get("schema-id")).map(_.asInt()))
      if (sid.isEmpty || sid == prevSid) None
      else IcebergLog.currentSchema(
        IcebergLog.readMetadata(Paths.get(dir)), sid)
    }
  }

  /** FILE-schema translator for RENAMED Iceberg tables: when any field
    * id ever carried more than one name across the schema history, a
    * by-name parquet read would bind the old spelling's files to null —
    * so the requested schema's fields annotate with their
    * `parquet.field.id` (stock Iceberg's own resolution; the spec
    * mandates ids in Iceberg-written files) and [[fileFieldIdRead]]
    * force-enables the reader's id resolution. Never-renamed tables
    * return None and keep exact by-name resolution — which also keeps
    * `add_files`-migrated ID-LESS files readable; once renamed, id-less
    * files fail loudly rather than null-fill (fail-closed). Synthetic
    * scan columns (row-index temporary, CDF pseudo-columns) are not in
    * the table schema and pass through unannotated (Spark matches
    * unannotated fields by name even in id mode). Top-level fields
    * only — the flat-table shape this engine reads. */
  override def fileFieldRename(dir: String): Option[StructType => StructType] = {
    val meta = IcebergLog.readMetadata(Paths.get(dir))
    val everRenamed = IcebergLog.fieldNamesByIdAcrossSchemas(meta)
      .values.exists(_.size > 1)
    if (!everRenamed) None
    else {
      val idOf: Map[String, Int] =
        IcebergLog.fieldNamesById(meta).map(_.swap)
      Some { s =>
        StructType(s.fields.map { f =>
          idOf.get(f.name) match {
            case Some(id) => org.apache.spark.sql.types.StructField(
              f.name, f.dataType, f.nullable,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putLong("parquet.field.id", id.toLong).build())
            case None => f
          }
        })
      }
    }
  }

  /** Force parquet field-id resolution for the scan — only once a
    * rename makes by-name resolution unsound (see [[fileFieldRename]]). */
  override def fileFieldIdRead(dir: String): Boolean =
    IcebergLog.fieldNamesByIdAcrossSchemas(
      IcebergLog.readMetadata(Paths.get(dir))).values.exists(_.size > 1)

  /** `timestampAsOf` resolution: the newest main-line snapshot whose
    * commit timestamp is ≤ `tsMillis` (the Iceberg snapshot-log
    * contract, same shape as [[DeltaLog.versionAsOf]]). */
  override def versionAsOf(dir: String, tsMillis: Long): Long =
    mainLine(dir).filter(s => longOf(s._2, "timestamp-ms") <= tsMillis)
      .lastOption.map(_._1)
      .getOrElse(sys.error(s"$dir: no Iceberg snapshot at or before " +
        s"$tsMillis"))

  /** Streaming `startingTimestamp` resolution: the first main-line
    * snapshot committed at or after `tsMillis`; one past the newest
    * when the timestamp postdates every snapshot (the stream starts
    * empty and tails future commits). */
  override def versionAtOrAfter(dir: String, tsMillis: Long): Long =
    mainLine(dir).find(s => longOf(s._2, "timestamp-ms") >= tsMillis)
      .map(_._1)
      .getOrElse(currentVersion(dir).getOrElse(0L) + 1L)

  /** Whole-file skip flags from the manifests' column bounds. */
  override def pruneFlags(spark: SparkSession, dir: String,
      preds: Seq[(String, Any, Any)]): Seq[(String, Boolean)] =
    IcebergLog.pruneFlags(dir, preds)
}
