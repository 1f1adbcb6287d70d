package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Delta Lake *protocol* interop — no delta jars, just the open spec.
  *
  * The reference's tables are genuine Delta (`consumer_lake.py:48-54`,
  * `process_silver.py:82-85`; delta-spark 2.4.0 per `Dockerfile:7`).
  * [[TxLog]] reproduces the transactional *semantics* (snapshot isolation,
  * time travel, VACUUM, CDF) on its own manifest format; this object closes
  * the remaining *interop* gap in both directions:
  *
  *  - WRITE: every TxLog commit is mirrored as a Delta commit file
  *    `_delta_log/%020d.json` holding newline-delimited `protocol` /
  *    `metaData` / `add` / `remove` / `commitInfo` actions per the public
  *    Delta transaction-log protocol (PROTOCOL.md, delta-io/delta). A table
  *    this engine writes is readable by any stock Delta reader — Spark with
  *    delta-spark, DuckDB's delta extension, delta-rs — with no knowledge
  *    of `_txlog`.
  *  - READ: [[snapshot]] replays an EXTERNAL `_delta_log` and hands the
  *    live file set to the parquet reader, so the engine can query tables
  *    some other Delta writer produced.
  *
  * Snapshot reconstruction is SCALE-TIERED, the same judgment Spark itself
  * applies to broadcast joins: below [[driverMaxLogBytes]] of log to
  * replay, a driver-side fold over the JSON commits (exactly how small
  * Delta logs are replayed everywhere — O(log files), never O(rows));
  * above it, the live file set is reconstructed as a DATAFRAME — the
  * newest checkpoint's actions unioned with the later JSON commits,
  * last-action-wins via a window over (path, version) — so a 100 TB table
  * with tens of millions of live files never materializes per-action state
  * in driver memory. (The final live-file list still reaches the driver to
  * seed the parquet scan — that is O(live files), the same handoff stock
  * Delta's FileIndex makes — but the replay/dedup work is distributed.)
  *
  * Log growth is bounded by parquet CHECKPOINTS ([[checkpoint]] /
  * [[maybeCheckpoint]], every 10 commits like Delta's default cadence):
  * the newest checkpoint holds the complete live state — including
  * unexpired `remove` tombstones, which foreign VACUUM coordination reads
  * — so replay reads one parquet file plus the JSON commits after it, and
  * the JSON prefix may be aged out. Checkpoints are themselves written
  * through the distributed reconstruction (one output task; the row build
  * is executor-side). Partitioned external tables (non-empty
  * `partitionColumns`) are read with their log-recorded partition values
  * reattached per file and partition predicates pruned against them
  * BEFORE any stats pruning composes on top (see [[snapshot]] /
  * [[skipScan]]; plan evidence in PLANS.md §q_delta_partitioned).
  */
object DeltaLog {

  private val mapper = new ObjectMapper()

  private def logDir(table: Path): Path = table.resolve("_delta_log")

  private[sources] def commitPath(table: Path, deltaVersion: Long): Path =
    logDir(table).resolve(f"$deltaVersion%020d.json")

  /** `Files.list` with the stream closed (it holds a directory fd). */
  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  // ------------------------------------------------------------- write

  /** True when Delta version `txVersion - 1` already has a commit file. */
  def isMirrored(table: Path, txVersion: Long): Boolean =
    Files.exists(commitPath(table, txVersion - 1))

  /** Percent-encoding per the Delta path rules: stock readers parse
    * `add.path` as a (relative) URI, so the write side must escape the
    * full RFC 2396 reserved set — everything except the unreserved
    * characters (alphanumerics and `-_.!~*'()`) and `/`, which separates
    * path segments. NOT java.net.URLEncoder, whose form encoding maps
    * space to '+' and escapes '/'. Multi-byte characters are escaped as
    * their UTF-8 byte sequence, `%XX` per byte, exactly what a URI
    * decoder reassembles.
    */
  private def encodePath(p: String): String = {
    def unreserved(c: Char): Boolean =
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || "-_.!~*'()/".indexOf(c.toInt) >= 0
    val sb = new StringBuilder(p.length)
    p.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xff).toChar
      if (b >= 0 && unreserved(c)) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Inverse of the Delta path percent-encoding: decode %XX escapes and
    * nothing else — java.net.URLDecoder would corrupt a literal '+' in a
    * file name (legal in Delta paths) into a space. Lenient on malformed
    * escapes (a bare '%' not followed by two hex digits stays literal):
    * spec-violating logs exist in the wild, and a wrong-but-plausible
    * path resolves to a loud file-not-found while a decoder crash would
    * mask which path was at fault. Escaped bytes are reassembled as
    * UTF-8, pairing [[encodePath]]'s byte-wise escaping.
    */
  private def decodePath(p: String): String = {
    def hex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    val out = new java.io.ByteArrayOutputStream(p.length)
    var i = 0
    while (i < p.length) {
      if (p.charAt(i) == '%' && i + 2 < p.length &&
          hex(p.charAt(i + 1)) && hex(p.charAt(i + 2)))
        { out.write(Integer.parseInt(p.substring(i + 1, i + 3), 16)); i += 3 }
      else {
        // copy the whole unescaped run as a SUBSTRING: encoding chars one
        // at a time would shear supplementary-plane characters (a lone
        // surrogate UTF-8-encodes to '?'), and a spec-violating foreign
        // log may carry raw non-BMP chars in add.path. Runs break only at
        // '%', which is never half of a surrogate pair.
        val j = { var k = i + 1; while (k < p.length && p.charAt(k) != '%') k += 1; k }
        out.write(p.substring(i, j).getBytes("UTF-8"))
        i = j
      }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** Spec hooks: the codec pair, exposed for property tests. */
  private[graft] def pathCodecRoundtrip(p: String): String = decodePath(encodePath(p))
  private[graft] def pathEncode(p: String): String = encodePath(p)
  private[graft] def pathDecode(p: String): String = decodePath(p)

  /** schemaString of the newest mirrored metaData per table, cached so
    * steady-state commits don't re-scan the log. Misses fall back to a
    * backward scan that stops at the first metaData action (commit 0 in
    * the common case).
    */
  private val mirroredMeta = TrieMap.empty[String, ObjectNode]

  /** Newest mirrored `protocol` action per table, cached alongside
    * [[mirroredMeta]]. Protocol replay is NEWEST-WINS, so a
    * feature-advertising commit must MERGE with this (max versions,
    * union of features) — a cdc-only or ICT-only commit that wrote a
    * fresh reader-1 protocol would otherwise downgrade an earlier
    * reader-3/deletionVectors gate while DV-carrying add actions are
    * still live, letting a foreign reader that cannot hide rows
    * resurrect deleted ones instead of refusing.
    */
  private val mirroredProtocol = TrieMap.empty[String, ObjectNode]

  /** Newest protocol action at or below `fromV` (backward JSON scan,
    * same shape as [[lastMirroredMeta]]). None when the prefix aged out
    * first — [[warmProtocolCache]] covers that from the checkpoint.
    */
  private def lastMirroredProtocol(table: Path, fromV: Long): Option[ObjectNode] = {
    var v = fromV
    while (v >= 0) {
      val p = commitPath(table, v)
      if (!Files.exists(p)) return None
      val protos = Files.readAllLines(p).asScala
        .filter(_.contains("\"protocol\""))
        .flatMap(l => Option(mapper.readTree(l).get("protocol")))
      if (protos.nonEmpty) return Some(protos.last.asInstanceOf[ObjectNode])
      v -= 1
    }
    None
  }

  /** Writer features IMPLIED by a legacy (pre-7) minWriterVersion, per
    * PROTOCOL.md's version-to-feature table. On writer 7 ONLY listed
    * writerFeatures apply, so upgrading a legacy protocol to 7 must
    * carry these explicitly or foreign writers silently stop enforcing
    * them (appendOnly/invariants at our base writer 2).
    */
  private def impliedWriterFeatures(mwv: Int): Set[String] =
    Seq(2 -> Set("appendOnly", "invariants"),
      3 -> Set("checkConstraints"),
      4 -> Set("changeDataFeed", "generatedColumns"),
      5 -> Set("columnMapping"),
      6 -> Set("identityColumns"))
      .filter(_._1 <= mwv).flatMap(_._2).toSet

  /** The schema a single commit DECLARED (its last `metaData` action's
    * schemaString), None when the commit carries no metaData or its
    * JSON is gone — the streaming schema-change detector: a running
    * tail compares each admitted version's declaration against the
    * schema pinned at stream start and stops loudly on a mismatch
    * (stock Delta's contract), instead of silently misbinding columns
    * after a mid-tail rename/drop. Config-only metaData re-emits carry
    * the unchanged schemaString and pass the comparison for free. */
  private[sources] def metaSchemaInCommit(table: Path,
      deltaV: Long): Option[StructType] = {
    val p = commitPath(table, deltaV)
    if (!Files.exists(p)) return None
    Files.readAllLines(p).asScala
      .filter(_.contains("\"metaData\""))
      .flatMap(l => Option(mapper.readTree(l).get("metaData")))
      .lastOption
      .map(m => DataType.fromJson(m.get("schemaString").asText())
        .asInstanceOf[StructType])
  }

  /** Newest metaData action at or below `fromV`, scanning backward
    * through the JSON commits. Returns None when the prefix was aged out
    * before any metaData was seen — the caller then re-emits one, which
    * is safe (last metaData wins) and self-heals a compacted log.
    */
  private def lastMirroredMeta(table: Path, fromV: Long): Option[ObjectNode] = {
    var v = fromV
    while (v >= 0) {
      val p = commitPath(table, v)
      if (!Files.exists(p)) return None
      val metas = Files.readAllLines(p).asScala
        .filter(_.contains("\"metaData\""))
        .flatMap(l => Option(mapper.readTree(l).get("metaData")))
      if (metas.nonEmpty) return Some(metas.last.asInstanceOf[ObjectNode])
      v -= 1
    }
    None
  }

  /** The table schema in force at Delta version `deltaV`, from the
    * newest mirrored metaData action at or below it — what a TxLog
    * snapshot read uses to type a schema-evolved table (files written
    * before a column existed read it back as nulls, Delta's own rule).
    * None when the JSON prefix is aged out or the mirror is absent —
    * callers fall back to file-footer inference.
    */
  private[sources] def mirroredSchemaAt(spark: SparkSession, table: Path,
      deltaV: Long): Option[StructType] =
    scala.util.Try {
      lastMirroredMeta(table, deltaV)
        // JSON prefix aged out past the last metaData-carrying commit:
        // the CHECKPOINT at-or-below deltaV holds the authoritative
        // metaData (commits since it only re-emit one on schema CHANGE,
        // so its absence from the surviving tail is the COMMON case
        // after compaction, not an edge). Without this fallback the
        // snapshot schema fell to footer inference, which binds to one
        // arbitrary file's footer — on a schema-evolved table that
        // randomly DROPPED evolved columns (~the share of pre-evolution
        // files). Equivalent when both exist: the backward scan stops
        // at the newest JSON metaData ≤ deltaV, and any checkpoint
        // between it and deltaV carries that same newest metaData.
        .orElse(checkpointVersions(table).filter(_ <= deltaV).maxOption
          .flatMap(cpV => checkpointMetaNode(spark, table, cpV)))
        .map(m => DataType.fromJson(m.get("schemaString").asText())
          .asInstanceOf[StructType])
    }.toOption.flatten

  /** Versions with a checkpoint file present in the log dir, ascending —
    * directory evidence, unlike [[lastCheckpointVersion]]'s
    * `_last_checkpoint` pointer (which only names the newest).
    */
  private def checkpointVersions(table: Path): Seq[Long] = {
    val ld = logDir(table)
    if (!Files.isDirectory(ld)) Seq.empty
    else listDir(ld).iterator
      .map(_.getFileName.toString)
      .filter(n => n.contains(".checkpoint.") && n.endsWith(".parquet"))
      .map(_.takeWhile(_ != '.'))
      .filter(t => t.length == 20 && t.forall(_.isDigit))
      .map(_.toLong).toSeq.distinct.sorted
  }

  /** The single metaData action the checkpoint at `cpV` carries (all
    * checkpoint formats — classic, multi-part, v2+sidecars — via
    * [[checkpointDF]]).
    */
  private def checkpointMetaNode(spark: SparkSession, table: Path,
      cpV: Long): Option[ObjectNode] = {
    val df = checkpointDF(spark, table, ReplayPlan(cpV, Seq.empty))
      .getOrElse(return None)
    if (!df.columns.contains("metaData")) return None
    df.filter(col("metaData").isNotNull)
      .select(to_json(col("metaData")).as("m"))
      .limit(1).collect().headOption
      .map(r => mapper.readTree(r.getString(0)).asInstanceOf[ObjectNode])
  }

  /** Checkpoint versions present in the log dir — the foreign-tail
    * seed selection ([[ForeignDeltaLog]]) needs the directory evidence,
    * not just the `_last_checkpoint` pointer. */
  private[sources] def checkpointVersionsIn(table: Path): Seq[Long] =
    checkpointVersions(table)

  /** The complete LIVE-FILE state plus the metaData a checkpoint
    * carries, for seeding a foreign tail's version fold when the JSON
    * prefix was aged out: `(decoded add paths with their DV descriptor
    * JSONs, metaData node)`. One driver collect of O(live files) path
    * strings — the same metadata scale every fold in the foreign tail
    * already carries; the million-file regime reads batch through
    * [[snapshot]]'s distributed replay instead. All checkpoint formats
    * (classic, multi-part, v2+sidecars) via [[checkpointDF]]. */
  private[sources] def checkpointLiveState(spark: SparkSession, table: Path,
      cpV: Long): (Seq[(String, Option[String])], Option[ObjectNode]) = {
    val df = checkpointDF(spark, table, ReplayPlan(cpV, Seq.empty))
      .getOrElse(sys.error(s"$table: no checkpoint file at version $cpV"))
    val adds =
      if (!df.columns.contains("add")) Seq.empty
      else {
        val hasDv = df.schema("add").dataType.asInstanceOf[StructType]
          .fieldNames.contains("deletionVector")
        df.filter(col("add").isNotNull)
          .select(col("add.path"),
            if (hasDv) to_json(col("add.deletionVector"))
            else lit(null).cast(StringType))
          .collect().toSeq
          .map(r => (decodePath(r.getString(0)), Option(r.getString(1))))
      }
    (adds, checkpointMetaNode(spark, table, cpV))
  }

  // ----------------------------------------------------- commit format
  //
  // Every commit file this object writes is assembled from the builders
  // below (one per action kind, each returning one rendered line with
  // the kind's one key order) and lands through [[writeCommit]].

  /** The `metaData` action, wrapped (`{"metaData": ...}`). `configuration`
    * entries are put in order, so a later duplicate key overrides an
    * earlier one in place. */
  private def metaDataNode(table: Path, schemaJson: String,
      id: String, createdTime: Long,
      partitionCols: Seq[String] = Seq.empty,
      configuration: Iterable[(String, String)] = Nil): ObjectNode = {
    val metaData = mapper.createObjectNode()
    val m = metaData.putObject("metaData")
    m.put("id", id)
    val fmt = m.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    m.put("schemaString", schemaJson)
    val pcs = m.putArray("partitionColumns")
    partitionCols.foreach(pcs.add)
    val cfg = m.putObject("configuration")
    configuration.foreach { case (k, v) => cfg.put(k, v); () }
    m.put("createdTime", createdTime)
    metaData
  }

  /** A metaData node's `configuration` entries, in log order. */
  private def cfgPairs(m: ObjectNode): Seq[(String, String)] =
    Option(m.get("configuration")).toSeq.flatMap(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()))

  private def protocol(minReaderVersion: Int, minWriterVersion: Int,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None): String = {
    val n = mapper.createObjectNode()
    val p = n.putObject("protocol")
    p.put("minReaderVersion", minReaderVersion)
    p.put("minWriterVersion", minWriterVersion)
    readerFeatures.foreach { fs => val a = p.putArray("readerFeatures"); fs.foreach(a.add(_)) }
    writerFeatures.foreach { fs => val a = p.putArray("writerFeatures"); fs.foreach(a.add(_)) }
    mapper.writeValueAsString(n)
  }

  /** `operationParameters` values are strings, or JSON numbers for Longs. */
  private def commitInfo(timestamp: Long, operation: String,
      operationParameters: Option[Seq[(String, Any)]] = None,
      inCommitTimestamp: Option[Long] = None): String = {
    val n = mapper.createObjectNode()
    val c = n.putObject("commitInfo")
    c.put("timestamp", timestamp)
    c.put("operation", operation)
    operationParameters.foreach { ps =>
      val op = c.putObject("operationParameters")
      ps.foreach {
        case (k, v: Long) => op.put(k, v)
        case (k, v) => op.put(k, v.toString)
      }
    }
    inCommitTimestamp.foreach(c.put("inCommitTimestamp", _))
    mapper.writeValueAsString(n)
  }

  /** The SetTransaction (`txn`) action. */
  private def setTransaction(appId: String, version: Long, lastUpdated: Long): String = {
    val n = mapper.createObjectNode()
    val t = n.putObject("txn")
    t.put("appId", appId)
    t.put("version", version)
    t.put("lastUpdated", lastUpdated)
    mapper.writeValueAsString(n)
  }

  /** `path` is the table-relative (or absolute) file path, unencoded;
    * `deletionVector` a descriptor JSON. */
  private def add(path: String, partitionValues: Iterable[(String, String)],
      size: Long, modificationTime: Long, dataChange: Boolean,
      stats: Option[String], deletionVector: Option[String] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None): String = {
    val n = mapper.createObjectNode()
    val a = n.putObject("add")
    a.put("path", encodePath(path))
    val pv = a.putObject("partitionValues")
    partitionValues.foreach { case (k, v) =>
      if (v == null) pv.putNull(k) else pv.put(k, v); ()
    }
    a.put("size", size)
    a.put("modificationTime", modificationTime)
    a.put("dataChange", dataChange)
    stats.foreach(a.put("stats", _))
    deletionVector.foreach(d => a.set[ObjectNode]("deletionVector", mapper.readTree(d)))
    baseRowId.foreach(a.put("baseRowId", _))
    defaultRowCommitVersion.foreach(a.put("defaultRowCommitVersion", _))
    mapper.writeValueAsString(n)
  }

  /** [[add]] of the file at `table/rel` as it is on disk: size, mtime
    * and footer stats read from it. */
  private def addFile(table: Path, rel: String, dataChange: Boolean = true,
      partitionValues: Iterable[(String, String)] = Nil,
      deletionVector: Option[String] = None,
      rowId: Option[(Long, Long)] = None): String = {
    val f = table.resolve(rel)
    add(rel, partitionValues, Files.size(f), Files.getLastModifiedTime(f).toMillis,
      dataChange, fileStats(f), deletionVector, rowId.map(_._1), rowId.map(_._2))
  }

  private def remove(path: String, deletionTimestamp: Long, dataChange: Boolean,
      deletionVector: Option[String] = None): String = {
    val n = mapper.createObjectNode()
    val r = n.putObject("remove")
    r.put("path", encodePath(path))
    r.put("deletionTimestamp", deletionTimestamp)
    r.put("dataChange", dataChange)
    deletionVector.foreach(d => r.set[ObjectNode]("deletionVector", mapper.readTree(d)))
    mapper.writeValueAsString(n)
  }

  /** A change-data file of this commit (unpartitioned, dataChange=false). */
  private def cdc(path: String, size: Long): String = {
    val n = mapper.createObjectNode()
    val c = n.putObject("cdc")
    c.put("path", encodePath(path))
    c.putObject("partitionValues")
    c.put("size", size)
    c.put("dataChange", false)
    mapper.writeValueAsString(n)
  }

  private def domainMetadata(domain: String, configuration: String): String = {
    val n = mapper.createObjectNode()
    val dm = n.putObject("domainMetadata")
    dm.put("domain", domain)
    dm.put("configuration", configuration)
    dm.put("removed", false)
    mapper.writeValueAsString(n)
  }

  /** Commit `lines` as Delta `version` of `table`, put-if-absent: the
    * file is staged under `_delta_log` and hard-linked to its final
    * name, so it appears whole or not at all and never replaces a
    * committed version. False when `version` already exists (a
    * concurrent writer won the race).
    */
  private def writeCommit(table: Path, version: Long, lines: Seq[String]): Boolean = {
    val tmp = Files.createTempFile(Files.createDirectories(logDir(table)), ".delta-", ".tmp")
    try {
      Files.write(tmp, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      Files.createLink(commitPath(table, version), tmp)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** The newest committed version: the last JSON commit, or the
    * `_last_checkpoint` version when the JSON prefix was aged out. */
  private def latestVersionOption(dir: String): Option[Long] =
    (versions(dir) ++ lastCheckpointVersion(Paths.get(dir))).maxOption

  private def latestVersion(dir: String): Long =
    latestVersionOption(dir).getOrElse(sys.error(s"no Delta commits in $dir"))

  /** Hive-style `col=value` segments of a TxLog-written relative path,
    * in directory order — how the mirror recovers a partitioned batch's
    * partition values (TxLog writes via Spark's `partitionBy`, so the
    * layout IS hive-style; `__HIVE_DEFAULT_PARTITION__` is the null
    * value, and names/values un-escape with Hive's own path escaping).
    */
  private def partSegments(rel: String): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    rel.split("/").dropRight(1).toSeq.filter(_.contains("="))
      .map { seg =>
        val i = seg.indexOf('=')
        val v = seg.drop(i + 1)
        (unescapePathName(seg.take(i)),
          if (v == "__HIVE_DEFAULT_PARTITION__") null else unescapePathName(v))
      }
  }

  private def stableTableId(table: Path): String =
    java.util.UUID.nameUUIDFromBytes(
      table.toAbsolutePath.toString.getBytes("UTF-8")).toString

  // ------------------------------------------------------------- stats

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Per-file Delta stats JSON, harvested from the parquet FOOTER — a
    * metadata read (no data pages touched), the same cost class as the
    * `Files.size` the add action already pays. Emits the protocol's
    * stats shape: `numRecords` always; `minValues`/`maxValues`/
    * `nullCount` per top-level primitive column where every row group
    * recorded trustworthy statistics. Columns any row group lacks stats
    * for are OMITTED (per-column stats are optional in the spec;
    * data-skipping treats absence as "may match"). Type rules:
    *
    *  - int32/int64 → JSON numbers; DATE → ISO `yyyy-MM-dd`;
    *    TIMESTAMP millis/micros → ISO-8601 instants (Delta's own
    *    rendering, e.g. `2021-04-08T07:23:57.000123Z`); NANOS and
    *    decimals are skipped (no canonical JSON stats form here).
    *  - float/double → JSON numbers; a NaN bound poisons ordering, so
    *    the column is skipped (Delta writers do the same).
    *  - strings → UTF-8; `min` may be cut to a 32-char PREFIX (a prefix
    *    is still a valid lower bound) but `max` is only emitted when the
    *    full value is ≤ 64 chars — a truncated upper bound would be
    *    SMALLER than the real max and wrongly prune matching files.
    *    Row-group min/max are compared as unsigned bytes, parquet's own
    *    binary sort order, not UTF-16 `compareTo`.
    *
    * Any footer surprise (not a parquet file, exotic encodings) returns
    * None: stats are an optimization and must never fail a commit.
    */
  /** `numRecords` alone from the footer — the id span a row-tracked
    * file claims. Same metadata-only cost as [[fileStats]]. */
  private[sources] def fileRowCount(file: Path): Option[Long] =
    fileStats(file).flatMap(s =>
      Option(mapper.readTree(s).get("numRecords")).map(_.asLong()))

  private[graft] def fileStats(file: Path): Option[String] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), hadoopConf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val schema = footer.getFileMetaData.getSchema
      val node = mapper.createObjectNode()
      node.put("numRecords", blocks.map(_.getRowCount).sum)
      val minV = mapper.createObjectNode()
      val maxV = mapper.createObjectNode()
      val nullC = mapper.createObjectNode()
      schema.getFields.asScala.filter(_.isPrimitive).foreach { f =>
        val name = f.getName
        val prim = f.asPrimitiveType()
        val chunks = blocks.flatMap(_.getColumns.asScala
          .filter(c => c.getPath.size == 1 && c.getPath.toDotString == name))
        val stats = chunks.map(c => Option(c.getStatistics))
        if (stats.nonEmpty && stats.forall(_.exists(_.isNumNullsSet)))
          nullC.put(name, stats.flatten.map(_.getNumNulls).sum)
        // min/max only when every row group has usable stats. A group
        // with hasNonNullValue=false is trustworthy ONLY when it is
        // PROVABLY all-null (numNulls == valueCount): parquet-mr also
        // omits min/max — while still recording null_count — when the
        // values exceed its stats size cap, and emitting bounds from the
        // other groups alone would be too narrow and wrongly prune.
        val usable = chunks.zip(stats).forall { case (c, so) =>
          so.exists(s => s.hasNonNullValue ||
            (s.isNumNullsSet && s.getNumNulls == c.getValueCount))
        }
        val withVals = stats.flatten.filter(_.hasNonNullValue)
        if (usable && withVals.nonEmpty) {
          val logical = Option(prim.getLogicalTypeAnnotation)
          prim.getPrimitiveTypeName match {
            case INT32 | INT64 =>
              val mins = withVals.map(_.genericGetMin.asInstanceOf[Number].longValue)
              val maxs = withVals.map(_.genericGetMax.asInstanceOf[Number].longValue)
              logical match {
                case Some(t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
                  val toIso: Long => Option[String] = v => (t.getUnit.toString match {
                    case "MILLIS" => Some(v * 1000L)
                    case "MICROS" => Some(v)
                    case _ => None // NANOS: no canonical JSON stats form
                  }).map(us => java.time.format.DateTimeFormatter.ISO_INSTANT.format(
                    java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS)))
                  for (lo <- toIso(mins.min); hi <- toIso(maxs.max)) {
                    minV.put(name, lo); maxV.put(name, hi)
                  }
                case Some(_: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
                  minV.put(name, java.time.LocalDate.ofEpochDay(mins.min).toString)
                  maxV.put(name, java.time.LocalDate.ofEpochDay(maxs.max).toString)
                case Some(_: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) => ()
                case _ => minV.put(name, mins.min); maxV.put(name, maxs.max); ()
              }
            case FLOAT | DOUBLE =>
              val mins = withVals.map(_.genericGetMin.asInstanceOf[Number].doubleValue)
              val maxs = withVals.map(_.genericGetMax.asInstanceOf[Number].doubleValue)
              if (!mins.exists(_.isNaN) && !maxs.exists(_.isNaN)) {
                minV.put(name, mins.min); maxV.put(name, maxs.max); ()
              }
            case BOOLEAN =>
              val vals = withVals.map(_.genericGetMin.asInstanceOf[Boolean]) ++
                withVals.map(_.genericGetMax.asInstanceOf[Boolean])
              minV.put(name, vals.forall(identity)); maxV.put(name, vals.exists(identity)); ()
            case BINARY if logical.exists(
                _.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]) =>
              val byteOrd: Ordering[org.apache.parquet.io.api.Binary] =
                Ordering.fromLessThan { (a, b) =>
                  val (x, y) = (a.getBytes, b.getBytes)
                  val n = math.min(x.length, y.length)
                  var i = 0
                  var r = 0
                  while (i < n && r == 0) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
                  (if (r != 0) r else x.length - y.length) < 0
                }
              val lo = withVals.map(s =>
                s.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]).min(byteOrd)
              val hi = withVals.map(s =>
                s.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]).max(byteOrd)
              val (loS, hiS) = (lo.toStringUsingUTF8, hi.toStringUsingUTF8)
              minV.put(name, if (loS.length <= 64) loS else loS.take(32))
              if (hiS.length <= 64) { maxV.put(name, hiS); () }
            case _ => () // INT96, FIXED_LEN_BYTE_ARRAY, raw BINARY: skip
          }
        }
      }
      node.set[ObjectNode]("minValues", minV)
      node.set[ObjectNode]("maxValues", maxV)
      node.set[ObjectNode]("nullCount", nullC)
      Some(mapper.writeValueAsString(node))
    } finally reader.close()
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Mirror one TxLog commit as a Delta commit file. `txVersion` is the
    * 1-based TxLog manifest version; Delta versions are 0-based, so the
    * mirrored commit lands at `txVersion - 1`. Commit 0 carries the
    * mandatory `protocol` and `metaData` actions. The protocol starts at
    * the base reader/writer 1/2; any commit that brings in deletion
    * vectors, change-data files, in-commit timestamps, domain metadata,
    * row tracking or a governed schema/property feature upgrades it to
    * reader 1 or 3 / writer 7 with the feature lists, merged with the
    * newest committed protocol. `metaData.id` must be stable for the
    * table's lifetime — derived from the table path so re-staging is
    * deterministic.
    *
    * Later commits re-emit a metaData action ONLY when the committed
    * schema differs from the newest mirrored one — Delta readers take
    * their schema from the last metaData action, not file inference, so
    * schema evolution must land in the log (TxLog manifests don't record
    * per-version schemas, so a BACKFILLED commit necessarily carries the
    * schema current at backfill time; same-schema tables — the normal
    * case — are unaffected).
    *
    * Lands through [[writeCommit]], the same put-if-absent primitive as
    * the TxLog commit itself: losing a race (or re-mirroring an
    * already-mirrored version) is a silent no-op, so the mirror never
    * clobbers a committed Delta version.
    */
  def mirrorCommit(table: Path, txVersion: Long, added: Seq[String],
      removed: Seq[String], schemaJson: String,
      dataChange: Boolean = true, operation: String = "WRITE",
      txn: Option[(String, Long)] = None,
      props: Map[String, String] = Map.empty,
      dvUpdates: Map[String, (String, Option[String])] = Map.empty,
      cdcAdds: Seq[String] = Seq.empty,
      commitTime: Option[Long] = None,
      domains: Map[String, String] = Map.empty,
      rowIds: Map[String, (Long, Long)] = Map.empty): Unit = {
    val deltaV = txVersion - 1
    if (Files.exists(commitPath(table, deltaV))) return
    // TxLog passes every version's manifest mtime (the real commit
    // point), so an ICT table's time travel maps backfilled versions to
    // commit time, not re-mirror time; callers without one use the wall
    // clock. The monotonic clamp below still guards against clocks (or
    // mtimes) that step backwards.
    val now = commitTime.getOrElse(System.currentTimeMillis())
    // partitioning is derivable from the hive-style batch layout itself
    // (TxLog writes partitionBy → col=value dirs); a table's partitioning
    // is fixed at its first commit, matching Delta's own rule
    val pcols = added.headOption.map(partSegments(_).map(_._1)).getOrElse(Seq.empty)
    def cfgOf(m: Option[ObjectNode]): Map[String, String] = m.toSeq.flatMap(cfgPairs).toMap
    val prevMeta: Option[ObjectNode] =
      if (deltaV == 0L) None
      else mirroredMeta.get(table.toString)
        .orElse(lastMirroredMeta(table, deltaV - 1))
    // IN-COMMIT TIMESTAMPS are computed UP-FRONT (not at commitInfo
    // emission) because the ENABLEMENT commit must also record its own
    // version and ict as table properties per the spec's
    // enabling-on-an-existing-table rule — readers use them to know
    // below which version file mtimes, not icts, order the history.
    val ictOn = (cfgOf(prevMeta) ++ props)
      .get("delta.enableInCommitTimestamps").contains("true")
    val ict: Option[Long] =
      if (!ictOn) None
      else {
        val prevIct: Option[Long] =
          if (deltaV == 0L) None
          else scala.util.Try(Files.readAllLines(commitPath(table, deltaV - 1))
            .asScala.iterator.map(mapper.readTree)
            .collectFirst { case n if n.has("commitInfo") &&
                n.get("commitInfo").has("inCommitTimestamp") =>
              n.get("commitInfo").get("inCommitTimestamp").asLong()
            }).toOption.flatten
        // MONOTONIC past the previous commit's ict — the spec's guard
        // against wall clocks (or backfill mtimes) that step backwards
        Some(math.max(now, prevIct.getOrElse(0L) + 1))
      }
    val ictEnabling = ictOn && deltaV > 0L &&
      !cfgOf(prevMeta).get("delta.enableInCommitTimestamps").contains("true")
    val effProps =
      if (ictEnabling)
        props +
          ("delta.inCommitTimestampEnablementVersion" -> deltaV.toString) +
          ("delta.inCommitTimestampEnablementTimestamp" -> ict.get.toString)
      else props
    // metaData is emitted at version 0, on a schema change, on a
    // property set, or when the aged-out prefix hides the schema
    // (re-emitting is idempotent under last-metaData-wins). It keeps
    // id/createdTime/partitionColumns stable from the previous metaData
    // when known, and configuration survives re-emission: previous
    // properties carry forward, this commit's `props` merge over them.
    val metaNode: Option[ObjectNode] =
      if (prevMeta.exists(_.get("schemaString").asText() == schemaJson) && props.isEmpty) None
      else Some(metaDataNode(table, schemaJson,
        prevMeta.map(_.get("id").asText()).getOrElse(stableTableId(table)),
        prevMeta.filter(_.has("createdTime")).map(_.get("createdTime").asLong())
          .getOrElse(now),
        prevMeta.map(m => partitionColsOf(Some(m))).getOrElse(pcols),
        cfgOf(prevMeta) ++ effProps))
    // the metaData this commit considers current — cached ONLY once the
    // link lands: a committer that loses the version race must not
    // cache a schemaString that never reached the log (its next commit
    // would then wrongly suppress the metaData re-emission)
    val effectiveMeta: Option[ObjectNode] =
      metaNode.map(_.get("metaData").asInstanceOf[ObjectNode]).orElse(prevMeta)
    // MERGE-ON-READ DELETE: each touched file re-commits as the spec's
    // remove(old DV) + add(same path, NEW deletionVector) pair — the
    // replay's intra-version add-wins rule reconstructs it. The commit
    // also upgrades the protocol to reader 3 / writer 7 with the
    // deletionVectors feature (PROTOCOL.md's gate), so a foreign
    // reader that cannot hide rows refuses instead of resurrecting.
    val protocolLine: Option[String] = {
      // feature-advertising protocol action: DV commits gate readers
      // (reader 3) AND writers; CDC-file, in-commit-timestamp, and
      // governance-feature commits gate writers only (any reader may
      // consume). MERGED with the newest previously-committed protocol
      // (max versions, union of features): protocol replay is
      // newest-wins, so a cdc-only or ICT-only commit on a table whose
      // earlier commits carry live deletion vectors must keep
      // advertising reader 3 / deletionVectors, never downgrade it.
      val prevP = mirroredProtocol.get(table.toString)
        .orElse(lastMirroredProtocol(table, deltaV - 1))
      def feats(k: String): Set[String] = prevP.flatMap(n => Option(n.get(k)))
        .map(_.asScala.map(_.asText()).toSet).getOrElse(Set.empty)
      val prevMrv = prevP.map(_.get("minReaderVersion").asInt()).getOrElse(1)
      val prevMwv = prevP.flatMap(n => Option(n.get("minWriterVersion")))
        .map(_.asInt()).getOrElse(2)
      // legacy protocols imply their features; writer 7 / reader 3
      // enforce ONLY the listed ones, so the upgrade carries the
      // implied sets explicitly (appendOnly/invariants at base
      // writer 2; columnMapping at legacy reader 2)
      val prevWf = feats("writerFeatures") ++
        (if (prevMwv < 7) impliedWriterFeatures(prevMwv) else Set.empty)
      val prevRf = feats("readerFeatures") ++
        (if (prevMrv == 2) Set("columnMapping") else Set.empty)
      // table-property/schema-driven features in force on THIS table —
      // the engine enforces CHECK constraints, computes generated /
      // defaulted / identity columns, so foreign writers must be gated
      // on them too. A commit that introduces one the previous protocol
      // does not cover (listed OR legacy-implied) triggers an upgrade.
      val cfgNow = cfgOf(effectiveMeta) ++ effProps
      val inUse =
        (if (cfgNow.keys.exists(_.startsWith("delta.constraints.")))
           Set("checkConstraints") else Set.empty[String]) ++
        (if (schemaJson.contains("delta.generationExpression"))
           Set("generatedColumns") else Set.empty[String]) ++
        (if (schemaJson.contains("CURRENT_DEFAULT"))
           Set("allowColumnDefaults") else Set.empty[String]) ++
        (if (schemaJson.contains("delta.identity."))
           Set("identityColumns") else Set.empty[String])
      val needRf = if (dvUpdates.nonEmpty) Set("deletionVectors") else Set.empty[String]
      val needWf = needRf ++
        (if (cdcAdds.nonEmpty) Set("changeDataFeed") else Set.empty[String]) ++
        (if (ictOn) Set("inCommitTimestamp") else Set.empty[String]) ++
        (if (domains.nonEmpty) Set("domainMetadata") else Set.empty[String]) ++
        (if (cfgNow.get("delta.enableRowTracking").contains("true"))
           Set("rowTracking", "domainMetadata") else Set.empty[String])
      val uncovered = inUse -- prevWf
      if (dvUpdates.nonEmpty || cdcAdds.nonEmpty || ictOn || domains.nonEmpty ||
          (needWf -- prevWf).nonEmpty || uncovered.nonEmpty) {
        val rf = prevRf ++ needRf
        val wf = prevWf ++ needWf ++ inUse
        Some(protocol(math.max(prevMrv, if (rf.nonEmpty) 3 else 1), math.max(prevMwv, 7),
          Some(rf.toSeq.sorted).filter(_.nonEmpty), Some(wf.toSeq.sorted)))
      } else if (deltaV == 0L) Some(protocol(1, 2))
      else None
    }
    val lines = protocolLine.toSeq ++ metaNode.map(mapper.writeValueAsString) ++
      // IN-COMMIT TIMESTAMPS, write side (the inCommitTimestamp writer
      // feature the AS-OF resolver already honors on read): when the
      // table property is on, the commit's authoritative time rides the
      // commitInfo action. File mtimes stop mattering for time travel.
      Seq(commitInfo(now, operation,
        Some(Seq("mode" -> (if (removed.nonEmpty) "Overwrite" else "Append"))), ict)) ++
      // SetTransaction: the idempotence token a foreign streaming writer
      // (or this engine's commitAppendOnce) coordinates retries on
      txn.map { case (app, tv) => setTransaction(app, tv, now) } ++
      removed.map(remove(_, now, dataChange)) ++
      dvUpdates.toSeq.sortBy(_._1).flatMap { case (rel, (newDesc, oldDesc)) =>
        // a DV re-add is the SAME file: its stable row ids must ride
        // along unchanged or replay's add-wins rule would drop them
        Seq(remove(rel, now, dataChange = true, oldDesc),
          addFile(table, rel, partitionValues = partSegments(rel),
            deletionVector = Some(newDesc), rowId = rowIds.get(rel)))
      } ++
      // footer-harvested per-file stats: what stock Delta writers emit,
      // what [[skipScan]] (and any foreign data-skipping reader) prunes on
      added.map(rel => addFile(table, rel, dataChange, partSegments(rel),
        rowId = rowIds.get(rel))) ++
      // PROTOCOL.md change-data files: row-level change records of THIS
      // commit, under _change_data/, carried as `cdc` actions
      // (dataChange=false — CDF readers consume them INSTEAD of the
      // add/remove reconciliation for this version)
      cdcAdds.map(rel => cdc(rel, Files.size(table.resolve(rel)))) ++
      // domain metadata: per-domain configuration, newest-wins on replay
      // (rowTracking's rowIdHighWaterMark rides the delta.rowTracking
      // domain — the spec's home for it)
      domains.toSeq.sortBy(_._1).map { case (d, cfg) => domainMetadata(d, cfg) }
    if (writeCommit(table, deltaV, lines)) {
      effectiveMeta.foreach(mirroredMeta.put(table.toString, _))
      protocolLine.foreach(l => mirroredProtocol.put(table.toString,
        mapper.readTree(l).get("protocol").asInstanceOf[ObjectNode]))
    } else {
      // lost the race: whatever the winner wrote is the truth now —
      // drop the caches so the next commit re-derives them from disk
      mirroredMeta.remove(table.toString)
      mirroredProtocol.remove(table.toString); ()
    }
  }

  /** Spec hook: forget the in-process metaData cache, modeling a fresh
    * process that must re-derive table state from disk. */
  private[graft] def resetMetaCache(): Unit = {
    mirroredMeta.clear(); mirroredProtocol.clear()
  }

  /** Table-scoped cache reset — what specs simulating a fresh process
    * for ONE table should call: the global clear() races concurrently
    * running suites (a clear landing between another table's
    * warmMetaCache and its commit makes that commit re-emit a
    * metadata-stripped schema — a real flake this overload removed). */
  private[graft] def resetMetaCache(table: Path): Unit = {
    mirroredMeta.remove(table.toString)
    mirroredProtocol.remove(table.toString); ()
  }

  /** Commit classifier for the streaming source: Some(true) when every
    * add/remove action of TxLog version `txVersion`'s mirror commit
    * carries dataChange=false (OPTIMIZE/REORG — bytes moved, no row
    * changed), Some(false) when any action changes data, None when the
    * mirror commit is absent (not yet landed, or compacted away) —
    * callers decide how conservative to be. Keeps the TxLog→Delta
    * version offset and the commit-file naming in ONE module.
    */
  private[graft] def isBytesOnlyCommit(table: Path, txVersion: Long): Option[Boolean] = {
    val p = commitPath(table, txVersion - 1)
    if (!Files.exists(p)) return None
    var sawAction = false
    Files.readAllLines(p).asScala.foreach { line =>
      if (line.contains("\"add\"") || line.contains("\"remove\"")) {
        val n = mapper.readTree(line)
        Seq("add", "remove").foreach { k =>
          Option(n.get(k)).foreach { a =>
            sawAction = true
            if (Option(a.get("dataChange")).forall(_.asBoolean(true)))
              return Some(false)
          }
        }
      }
    }
    Some(sawAction)
  }

  /** Warm the per-table metaData cache from the CHECKPOINT when the
    * JSON prefix is compacted away and no commit in the tail carries a
    * metaData action — without this, a fresh process on a compacted
    * table would see an empty configuration and silently skip
    * constraint/appendOnly enforcement and generated-column
    * computation, and [[TxLog]]'s effectiveSchemaJson would strip the
    * field metadata from the next mirrored schema. Called by every
    * TxLog write entry point (they have the session); a no-op when the
    * cache or JSON scan already answers.
    */
  private[graft] def warmMetaCache(spark: SparkSession, table: Path): Unit = {
    warmProtocolCache(spark, table)
    if (mirroredMeta.contains(table.toString)) return
    val newest = versions(table.toString).maxOption
    if (newest.flatMap(v => lastMirroredMeta(table, v)).isDefined) return
    val cpV = lastCheckpointVersion(table).getOrElse(return)
    checkpointMetaNode(spark, table, cpV).foreach { n =>
      mirroredMeta.put(table.toString, n)
      ()
    }
  }

  /** Protocol counterpart of [[warmMetaCache]]: when the JSON prefix
    * is compacted past the last protocol-carrying commit, the next
    * feature commit's protocol MERGE would see nothing and fall back
    * to the base (1,2) — silently downgrading a checkpointed
    * reader-3/deletionVectors gate. Warm the cache from the checkpoint
    * so the merge always sees the newest committed protocol.
    */
  private def warmProtocolCache(spark: SparkSession, table: Path): Unit = {
    if (mirroredProtocol.contains(table.toString)) return
    val newest = versions(table.toString).maxOption
    if (newest.flatMap(v => lastMirroredProtocol(table, v)).isDefined) return
    val cpV = lastCheckpointVersion(table).getOrElse(return)
    checkpointProtocolNode(spark, table, ReplayPlan(cpV, Seq.empty)).foreach { n =>
      mirroredProtocol.put(table.toString, n)
      ()
    }
  }

  /** Newest mirrored schemaString (cache → backward JSON scan) — what
    * [[TxLog.setTableProperties]] re-emits alongside new properties. */
  private[graft] def currentSchemaString(table: Path): Option[String] = {
    val newest = versions(table.toString).maxOption
    mirroredMeta.get(table.toString)
      .orElse(newest.flatMap(v => lastMirroredMeta(table, v)))
      .map(_.get("schemaString").asText())
  }

  /** The table properties in force: the newest metaData's
    * configuration. Config-scale (cache hit or one backward JSON scan);
    * an aged-out prefix with no retained metaData reads as empty — the
    * enforcement call sites treat that as "no constraints", the only
    * safe default for a WRITER-side guard.
    */
  def tableConfig(table: Path): Map[String, String] = {
    val newest = versions(table.toString).maxOption
    mirroredMeta.get(table.toString)
      .orElse(newest.flatMap(v => lastMirroredMeta(table, v)))
      .map(cfgPairs(_).toMap).getOrElse(Map.empty)
  }

  // -------------------------------------------------------------- read

  private def lastCheckpointVersion(table: Path): Option[Long] = {
    val lc = logDir(table).resolve("_last_checkpoint")
    if (!Files.exists(lc)) None
    else Some(mapper.readTree(Files.readString(lc)).get("version").asLong())
  }

  /** Committed Delta versions present in `dir`'s log, ascending. */
  def versions(dir: String): Seq[Long] = {
    val ld = logDir(Paths.get(dir))
    if (!Files.isDirectory(ld)) Seq.empty
    else listDir(ld).iterator
      .map(_.getFileName.toString)
      .filter(n => n.length == 25 && n.endsWith(".json") &&
        n.dropRight(5).forall(_.isDigit))
      .map(_.dropRight(5).toLong)
      .toSeq.sorted
  }

  /** Which log files a snapshot at `upTo` replays: the newest usable
    * checkpoint (or -1 when replaying pure JSON from version 0) plus the
    * contiguous JSON commits after it. Contiguity is a correctness
    * requirement, not a nicety: replaying {0, 2} would silently drop
    * commit 1's add/remove actions and return a table state that never
    * existed. Real Delta readers make the same demand of the log.
    */
  private case class ReplayPlan(cpV: Long, tail: Seq[Long]) {
    /** The checkpoint's parquet file(s): the classic single file, or the
      * MULTI-PART set `V.checkpoint.I-of-N.parquet` stock Delta writes
      * for large tables (actions split arbitrarily across parts; a
      * reader loads them all). An incomplete part set fails loudly —
      * silently replaying a partial checkpoint would fabricate a table
      * state that never existed.
      */
    def cpPaths(table: Path): Seq[Path] =
      if (cpV < 0) Seq.empty
      else {
        val single = logDir(table).resolve(f"$cpV%020d.checkpoint.parquet")
        if (Files.exists(single)) Seq(single)
        else {
          val prefix = f"$cpV%020d.checkpoint."
          val all = listDir(logDir(table)).filter { p =>
            val n = p.getFileName.toString
            n.startsWith(prefix) && n.endsWith(".parquet")
          }.sortBy(_.getFileName.toString)
          if (all.isEmpty)
            sys.error(s"$table: _last_checkpoint names version $cpV but no " +
              "checkpoint file exists")
          // a V2 CHECKPOINT (`V.checkpoint.<uniqueId>.parquet`, the
          // v2Checkpoints reader feature) is complete on its own — any
          // one suffices; [[checkpointDF]] expands its sidecar actions
          val (v2, parts) = all.partition(p => p.getFileName.toString
            .stripPrefix(prefix).stripSuffix(".parquet").split("\\.").length == 1)
          if (v2.nonEmpty) Seq(v2.last)
          else {
            // names carry part-of-total: validate the set is complete
            val totals = parts.map(_.getFileName.toString
              .stripPrefix(prefix).stripSuffix(".parquet").split("\\."))
            if (totals.exists(_.length != 2))
              sys.error(s"$table: malformed multi-part checkpoint names for version $cpV")
            val n = totals.head(1).toLong
            val nums = totals.map(_(0).toLong).sorted
            if (totals.exists(_(1).toLong != n) || nums != (1L to n))
              sys.error(s"$table: incomplete multi-part checkpoint for version " +
                s"$cpV — have parts ${nums.mkString(",")} of $n")
            parts
          }
        }
      }
  }

  /** Is this a v2-checkpoint file name (`V.checkpoint.<uniqueId>
    * .parquet`)? Classic is `V.checkpoint.parquet`, multi-part
    * `V.checkpoint.I.N.parquet` (all-digit middle tokens). */
  private def isV2CheckpointName(p: Path): Boolean = {
    // classic = 3 dot-tokens, multi-part = 5; a 4-token name IS v2 —
    // the uniqueId may legally be all digits, so no digit test here
    // (cpPaths classifies with the same token count, keeping the two
    // call sites consistent)
    val t = p.getFileName.toString.split("\\.")
    t.length == 4 && t(1) == "checkpoint" && t(3) == "parquet"
  }

  /** The checkpoint's action rows as ONE DataFrame: a classic single
    * file, a complete multi-part set, or a V2 CHECKPOINT — the
    * `v2Checkpoints` reader feature: the top-level file carries the
    * non-file actions (protocol/metaData/txn, plus `checkpointMetadata`
    * and `sidecar` rows), and the add/remove actions live in SIDECAR
    * parquet files under `_delta_log/_sidecars/` that the `sidecar`
    * actions name. Read = top-level ∪ sidecars by field name (missing
    * columns null on either side). None = the plan replays pure JSON.
    * All four checkpoint consumers (meta warm, protocol gate, driver
    * fold, distributed reconstruction) route through here, so the
    * replay semantics are identical across checkpoint formats.
    */
  private def checkpointDF(spark: SparkSession, table: Path,
      pl: ReplayPlan): Option[DataFrame] = {
    val cps = pl.cpPaths(table)
    if (cps.isEmpty) return None
    val top = spark.read.parquet(cps.map(_.toString): _*)
    if (!isV2CheckpointName(cps.head) || !top.columns.contains("sidecar"))
      return Some(top)
    val sidecars = top.filter(col("sidecar").isNotNull)
      .select(col("sidecar.path")).collect().map(_.getString(0)).toSeq
    val resolved = sidecars.map { p =>
      if (p.contains("://") || p.startsWith("/")) p
      else logDir(table).resolve("_sidecars").resolve(p).toString
    }
    val missing = resolved.filterNot(p =>
      p.contains("://") || Files.exists(Paths.get(p)))
    if (missing.nonEmpty)
      sys.error(s"$table: v2 checkpoint ${cps.head.getFileName} names " +
        s"${missing.size} missing sidecar file(s) (e.g. ${missing.head}) — " +
        "refusing to replay a partial checkpoint")
    if (resolved.isEmpty) Some(top)
    else Some(top.drop("sidecar").unionByName(
      spark.read.parquet(resolved: _*), allowMissingColumns = true))
  }

  private def replayPlan(table: Path, upTo: Long): ReplayPlan = {
    val startAfter = lastCheckpointVersion(table).filter(_ <= upTo) match {
      case Some(cpV) => cpV
      case None =>
        if (!versions(table.toString).headOption.contains(0L))
          sys.error(s"$table: log prefix aged out and no checkpoint at or " +
            s"before version $upTo — cannot reconstruct that snapshot")
        -1L
    }
    val tail = versions(table.toString).filter(v => v > startAfter && v <= upTo)
    val expected = (startAfter + 1) to upTo
    if (tail != expected)
      sys.error(s"$table: _delta_log has gaps — need versions " +
        s"${expected.mkString(",")} after checkpoint $startAfter, found ${tail.mkString(",")}")
    ReplayPlan(startAfter, tail)
  }

  /** Reader features this engine implements end-to-end. `timestampNtz`
    * is a pure schema type (passes straight through the parquet
    * reader) and `vacuumProtocolCheck` imposes no read-side behavior;
    * `deletionVectors`, `columnMapping`, and `v2Checkpoints` (sidecar
    * expansion in [[checkpointDF]]) have real implementations.
    * Anything else — coordinatedCommits, type widening — changes what
    * the log's bytes MEAN, so an unknown required feature fails loudly
    * instead of misreading the table (the spec's own mandate for
    * readerFeatures).
    */
  private val supportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz",
      "vacuumProtocolCheck", "v2Checkpoints")

  /** Enforce the newest `protocol` action a replay at `pl` covers.
    * Config-scale: the JSON tail is scanned newest-first (those files
    * are re-read by replay anyway); only a compacted log with no JSON
    * protocol action falls back to one checkpoint read. A log with no
    * protocol action at all passes — refusing to read a spec-violating
    * but plain table helps no one.
    */
  /** The newest `protocol` action a replay at `pl` covers: JSON tail
    * newest-first, falling back to the checkpoint's protocol row once
    * the prefix is compacted away (minReaderVersion + readerFeatures —
    * the fields replay decisions hang on). Shared by the guard and
    * [[shallowClone]], which must copy the source's gate, not
    * fabricate a weaker one.
    */
  private def newestProtocolNode(spark: SparkSession, table: Path,
      pl: ReplayPlan): Option[com.fasterxml.jackson.databind.JsonNode] = {
    def fromJson(v: Long): Option[com.fasterxml.jackson.databind.JsonNode] =
      Files.readAllLines(commitPath(table, v)).asScala.iterator
        .filter(_.contains("\"protocol\"")).map(mapper.readTree)
        .flatMap(n => Option(n.get("protocol"))).nextOption()
    pl.tail.reverseIterator.flatMap(fromJson(_)).nextOption()
      .orElse(checkpointProtocolNode(spark, table, pl))
  }

  /** The protocol row the checkpoint covered by `pl` carries, rebuilt
    * as a JSON node (shared by [[newestProtocolNode]] and
    * [[warmProtocolCache]]). */
  private def checkpointProtocolNode(spark: SparkSession, table: Path,
      pl: ReplayPlan): Option[ObjectNode] =
    checkpointDF(spark, table, pl) match {
      case None => None
      case Some(df) if !df.columns.contains("protocol") => None
      case Some(df) => {
        val pf = df.schema("protocol").dataType.asInstanceOf[StructType]
          .fieldNames.toSet
        def opt(name: String, t: DataType) =
          if (pf(name)) col(s"protocol.$name").cast(t)
          else lit(null).cast(t)
        df.filter(col("protocol").isNotNull)
          .select(col("protocol.minReaderVersion").cast(IntegerType).as("mrv"),
            opt("minWriterVersion", IntegerType).as("mwv"),
            opt("readerFeatures", ArrayType(StringType)).as("rf"),
            opt("writerFeatures", ArrayType(StringType)).as("wf"))
          .limit(1).collect().headOption.map { r =>
            val node = mapper.createObjectNode()
            node.put("minReaderVersion", r.getInt(0))
            if (!r.isNullAt(1)) node.put("minWriterVersion", r.getInt(1))
            Option(r.getSeq[String](2)).foreach { fs =>
              val a = node.putArray("readerFeatures"); fs.foreach(a.add(_)) }
            Option(r.getSeq[String](3)).foreach { fs =>
              val a = node.putArray("writerFeatures"); fs.foreach(a.add(_)) }
            node
          }
      }
    }

  /** Live domain metadata (domain → configuration JSON) at `upTo` (or
    * the newest version): NEWEST-WINS per domain over the JSON tail,
    * falling back to the checkpoint's domainMetadata rows for domains
    * whose last write was compacted away; a `removed` tombstone hides
    * its domain. Config-scale — the scan stops at the checkpoint
    * boundary, like protocol resolution.
    */
  def domainMetadataMap(spark: SparkSession, dir: String,
      upTo: Option[Long] = None): Map[String, String] = {
    val table = Paths.get(dir)
    val latest = upTo.orElse(latestVersionOption(dir)).getOrElse(return Map.empty)
    val pl = replayPlan(table, latest)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Option[String]]
    pl.tail.reverseIterator.foreach { v =>
      Files.readAllLines(commitPath(table, v)).asScala.reverseIterator
        .filter(_.contains("\"domainMetadata\""))
        .map(mapper.readTree).flatMap(n => Option(n.get("domainMetadata")))
        .foreach { d =>
          val name = d.get("domain").asText()
          if (!seen.contains(name))
            seen(name) =
              if (Option(d.get("removed")).exists(_.asBoolean(false))) None
              else Some(d.get("configuration").asText())
        }
    }
    if (pl.cpV >= 0)
      checkpointDF(spark, table, pl).foreach { df =>
        if (df.columns.contains("domainMetadata"))
          df.filter(col("domainMetadata").isNotNull)
            .select(col("domainMetadata.domain"),
              col("domainMetadata.configuration"),
              col("domainMetadata.removed"))
            .collect().foreach { r =>
              val name = r.getString(0)
              if (!seen.contains(name))
                seen(name) = if (!r.isNullAt(2) && r.getBoolean(2)) None
                  else Option(r.getString(1))
            }
      }
    seen.collect { case (k, Some(v)) => k -> v }.toMap
  }

  private def protocolGuard(spark: SparkSession, table: Path,
      pl: ReplayPlan): Unit = {
    newestProtocolNode(spark, table, pl).foreach { pr =>
      val mrv = Option(pr.get("minReaderVersion")).map(_.asInt()).getOrElse(1)
      val feats = Option(pr.get("readerFeatures"))
        .map(_.asScala.map(_.asText()).toSet).getOrElse(Set.empty[String])
      if (mrv > 3)
        sys.error(s"$table: minReaderVersion $mrv is newer than any " +
          "protocol version this engine knows")
      else if (mrv == 3) {
        val unsupported = feats -- supportedReaderFeatures
        if (unsupported.nonEmpty)
          sys.error(s"$table: log requires reader features " +
            s"[${unsupported.toSeq.sorted.mkString(", ")}] this engine " +
            "does not implement — refusing to misread the table")
      }
    }
  }

  /** Bytes of log a replay must read — the routing signal between the
    * driver fold and the distributed reconstruction. Metadata-scale
    * (one stat per log file), never touches data.
    */
  private def replayBytes(table: Path, pl: ReplayPlan): Long =
    pl.cpPaths(table).filter(Files.exists(_)).map(Files.size).sum +
      pl.tail.map(v => Files.size(commitPath(table, v))).sum

  /** Replay logs at most this large on the driver; larger ones go through
    * the distributed [[liveState]] reconstruction. 16 MB of log is
    * ~100k actions — far beyond every fixture, so tests force the
    * distributed path by setting this to 0. @volatile: flipped by specs.
    */
  @volatile private[graft] var driverMaxLogBytes: Long = 16L << 20

  /** Which path the last snapshot reconstruction took ("driver" |
    * "distributed") — observability for specs asserting the routing.
    */
  @volatile private[graft] var lastReplayPath: String = ""

  // Action schema shared by the JSON commit reader and the checkpoint
  // parquet — the subset of Delta's action envelope this engine consumes.
  // `stats` is Delta's per-file statistics JSON
  // (`{"numRecords":N,"minValues":{...},"maxValues":{...},"nullCount":{...}}`)
  // — carried verbatim as a string, exactly how the protocol stores it.
  // `deletionVector` is the Delta DV descriptor (storageType u/i/p +
  // Z85 path-or-inline + offsets) — carried through replay so DV-bearing
  // foreign tables read correctly (rows the bitmap names are hidden)
  private val dvType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))
  private val addType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType),
    StructField("deletionVector", dvType),
    // ROW TRACKING (the rowTracking writer feature): a file's stable
    // row ids are baseRowId + position; both fields must survive
    // replay and checkpoints or ids silently renumber after compaction
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType)))
  // DOMAIN METADATA (the domainMetadata writer feature): per-domain
  // configuration with newest-wins replay; rowTracking keeps its
  // rowIdHighWaterMark in the `delta.rowTracking` domain
  private val domainType = StructType(Seq(
    StructField("domain", StringType),
    StructField("configuration", StringType),
    StructField("removed", BooleanType)))
  private val removeType = StructType(Seq(
    StructField("path", StringType),
    StructField("deletionTimestamp", LongType),
    StructField("dataChange", BooleanType),
    // stock removes carry the superseded deletionVector so VACUUM can
    // protect its file through the tombstone retention era
    StructField("deletionVector", dvType)))
  private val metaType = StructType(Seq(
    StructField("id", StringType),
    StructField("format", StructType(Seq(
      StructField("provider", StringType),
      StructField("options", MapType(StringType, StringType))))),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", MapType(StringType, StringType)),
    StructField("createdTime", LongType)))
  private val protocolType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    // feature gates survive into checkpoints: a compacted DV or
    // column-mapped table must keep advertising what readers need
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))))
  // SetTransaction: the streaming-writer idempotence token
  private val txnType = StructType(Seq(
    StructField("appId", StringType),
    StructField("version", LongType),
    StructField("lastUpdated", LongType)))
  private val actionSchema = StructType(Seq(
    StructField("protocol", protocolType),
    StructField("metaData", metaType),
    StructField("add", addType),
    StructField("remove", removeType),
    StructField("txn", txnType),
    StructField("domainMetadata", domainType)))

  /** All actions a replay at `upTo` covers, as ONE DataFrame
    * (add/remove/metaData structs + the `ver` they landed at): the
    * checkpoint's rows at `cpV` unioned with the later JSON commits,
    * whose version is recovered from the commit file name. This is the
    * distributed half of snapshot reconstruction — no per-action driver
    * state.
    */
  private def actionsDF(spark: SparkSession, table: Path, pl: ReplayPlan): DataFrame = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    checkpointDF(spark, table, pl).foreach { cpDf =>
      // classic single file, all parts of a multi-part checkpoint, or a
      // v2 top-level ∪ sidecars — one frame either way
      var df = cpDf
      // checkpoints written before tombstone/txn support lack those columns
      if (!df.columns.contains("remove"))
        df = df.withColumn("remove", lit(null).cast(removeType))
      if (!df.columns.contains("txn"))
        df = df.withColumn("txn", lit(null).cast(txnType))
      // Re-shape each action struct BY FIELD NAME, never a whole-struct
      // cast: struct casts map positionally and require equal arity, so a
      // FOREIGN checkpoint's extra fields (add.stats/tags, metaData.name/
      // description in stock delta-spark checkpoints) would break — or
      // worse, silently misassign — exactly the large external tables the
      // distributed path exists for. The null-guard keeps absent actions
      // NULL (struct() of nulls is not null).
      def shape(c: String, t: StructType): org.apache.spark.sql.Column = {
        val present = df.schema(c).dataType
          .asInstanceOf[StructType].fieldNames.toSet
        when(col(c).isNotNull,
          struct(t.fields.toSeq.map { f =>
            val v = if (present(f.name)) col(s"$c.${f.name}").cast(f.dataType)
                    else lit(null).cast(f.dataType) // optional field a foreign writer omitted
            v.as(f.name)
          }: _*))
          .otherwise(lit(null).cast(t)).as(c)
      }
      parts += df.select(
        shape("metaData", metaType),
        shape("add", addType),
        shape("remove", removeType),
        shape("txn", txnType),
        lit(pl.cpV).as("ver"))
    }
    if (pl.tail.nonEmpty)
      parts += spark.read.schema(actionSchema)
        .json(pl.tail.map(v => commitPath(table, v).toString): _*)
        .select(col("metaData"), col("add"), col("remove"), col("txn"),
          regexp_extract(input_file_name(), "(\\d{20})\\.json", 1)
            .cast(LongType).as("ver"))
    parts.reduce(_.unionByName(_))
  }

  /** Distributed snapshot state at `upTo`:
    * (live files, unexpired remove tombstones, newest metaData).
    * Last-action-wins is a window over (path, version) — within one
    * version a path carries at most one action per the Delta spec, so
    * version order alone is decisive. Paths stay ENCODED here (decode is
    * a driver-side O(live files) step at scan handoff). The metaData
    * collect is config-scale: one row.
    */
  private[graft] def liveState(spark: SparkSession, table: Path,
      pl: ReplayPlan): (DataFrame, DataFrame, Option[ObjectNode]) =
    liveStateFrom(actionsDF(spark, table, pl))

  private def liveStateFrom(acts: DataFrame): (DataFrame, DataFrame, Option[ObjectNode]) = {
    val flat = acts.select(
        coalesce(col("add.path"), col("remove.path")).as("path"),
        col("ver"),
        col("add").isNotNull.as("isAdd"),
        col("add.partitionValues").as("partitionValues"),
        col("add.size").as("size"),
        col("add.modificationTime").as("modificationTime"),
        col("add.stats").as("stats"),
        to_json(col("add.deletionVector")).as("dv"),
        col("add.baseRowId").as("baseRowId"),
        col("add.defaultRowCommitVersion").as("defaultRowCommitVersion"),
        col("remove.deletionTimestamp").as("deletionTimestamp"),
        to_json(col("remove.deletionVector")).as("rdv"))
      .filter(col("path").isNotNull)
    // Within ONE version a path may carry BOTH a remove and an add —
    // that's how stock Delta commits a DV update (remove the old add,
    // re-add the same file with the new deletionVector). Reconciliation:
    // the add is the newest state, so it wins the intra-version tie.
    val last = flat
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("path"))
          .orderBy(col("ver").desc, col("isAdd").desc)))
      .filter(col("rn") === 1)
    val live = last.filter(col("isAdd"))
      .select("path", "partitionValues", "size", "modificationTime", "stats",
        "dv", "baseRowId", "defaultRowCommitVersion")
    val tombstones = last.filter(!col("isAdd"))
      .select("path", "deletionTimestamp", "rdv")
    val meta = acts.filter(col("metaData").isNotNull)
      .orderBy(col("ver").desc)
      .select("metaData.id", "metaData.schemaString",
        "metaData.partitionColumns", "metaData.configuration",
        "metaData.createdTime")
      .limit(1).collect().headOption.map { r =>
        val node = mapper.createObjectNode()
        node.put("id", r.getString(0))
        node.put("schemaString", r.getString(1))
        val pcs = node.putArray("partitionColumns")
        Option(r.getSeq[String](2)).getOrElse(Seq.empty).foreach(pcs.add)
        val cfg = node.putObject("configuration")
        Option(r.getMap[String, String](3))
          .foreach(_.foreach { case (k, v) => cfg.put(k, v); () })
        node.put("createdTime", if (r.isNullAt(4)) 0L else r.getLong(4))
        node
      }
    (live, tombstones, meta)
  }

  /** One live data file as replay reconstructs it: decoded relative
    * path, the log-carried partition values, the raw stats JSON (None
    * when the writer emitted none), and the deletion-vector descriptor
    * JSON when the newest add carries one. */
  private[graft] case class LiveFile(path: String,
      partitionValues: Map[String, String], stats: Option[String],
      dv: Option[String] = None)

  /** Driver-side fold over the same replay plan — the cheap path for
    * metadata-scale logs (every fixture; most real tables). Later
    * `remove` cancels earlier `add`, re-`add` cancels `remove`, last
    * `metaData` wins — identical semantics to [[liveState]], asserted
    * equal by DeltaLogSpec under a forced guard.
    */
  private def replayDriver(spark: SparkSession, table: Path,
      pl: ReplayPlan): (Seq[LiveFile], Option[ObjectNode]) = {
    val live = scala.collection.mutable.LinkedHashMap.empty[String, LiveFile]
    var meta: Option[ObjectNode] = None
    checkpointDF(spark, table, pl).foreach { df =>
      val addFields = df.schema("add").dataType
        .asInstanceOf[StructType].fieldNames.toSet
      def optField(name: String, t: DataType) =
        if (addFields(name)) col(s"add.$name").cast(t)
        else lit(null).cast(t)
      val dvCol =
        if (addFields("deletionVector")) to_json(col("add.deletionVector"))
        else lit(null).cast(StringType)
      df.filter(col("add").isNotNull)
        .select(col("add.path"),
          optField("partitionValues", MapType(StringType, StringType)),
          optField("stats", StringType),
          dvCol)
        .collect().foreach { r =>
          val p = decodePath(r.getString(0))
          val pv = Option(r.getMap[String, String](1))
            .map(_.toMap).getOrElse(Map.empty[String, String])
          live += p -> LiveFile(p, pv, Option(r.getString(2)), Option(r.getString(3)))
        }
      df.filter(col("metaData").isNotNull)
        .select(col("metaData.id"), col("metaData.schemaString"),
          col("metaData.partitionColumns"), col("metaData.configuration"),
          col("metaData.createdTime"))
        .collect().headOption.foreach { r =>
          val node = mapper.createObjectNode()
          node.put("id", r.getString(0))
          node.put("schemaString", r.getString(1))
          val pcs = node.putArray("partitionColumns")
          Option(r.getSeq[String](2)).getOrElse(Seq.empty).foreach(pcs.add)
          // carry configuration + createdTime so checkpoint-of-checkpoint
          // round-trips metaData losslessly
          val cfg = node.putObject("configuration")
          Option(r.getMap[String, String](3))
            .foreach(_.foreach { case (k, v) => cfg.put(k, v); () })
          node.put("createdTime", if (r.isNullAt(4)) 0L else r.getLong(4))
          meta = Some(node)
        }
    }
    pl.tail.foreach { v =>
      // removes apply BEFORE adds within one commit: a DV update emits
      // remove+add of the same path in the same version, and the add is
      // the file's newest state (same reconciliation as [[liveState]]'s
      // intra-version tiebreak) — line order in the file must not matter
      val nodes = Files.readAllLines(commitPath(table, v)).asScala
        .filter(_.trim.nonEmpty).map(mapper.readTree)
      nodes.foreach { node =>
        if (node.has("remove"))
          live -= decodePath(node.get("remove").get("path").asText())
        if (node.has("metaData"))
          meta = Some(node.get("metaData").asInstanceOf[ObjectNode])
      }
      nodes.foreach { node =>
        if (node.has("add")) {
          val a = node.get("add")
          val p = decodePath(a.get("path").asText())
          val pv = Option(a.get("partitionValues")).map(_.fields().asScala
            .map(e => e.getKey ->
              (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
            .getOrElse(Map.empty[String, String])
          val st = Option(a.get("stats")).filterNot(_.isNull).map(_.asText())
          val dv = Option(a.get("deletionVector")).filterNot(_.isNull)
            .map(mapper.writeValueAsString)
          live += p -> LiveFile(p, pv, st, dv)
        }
      }
    }
    (live.values.toSeq, meta)
  }

  /** The live file set + newest metaData at `upTo`, routed by log size:
    * driver fold below the guard, distributed reconstruction above it.
    */
  private def replay(spark: SparkSession, table: Path,
      upTo: Long): (Seq[LiveFile], Option[ObjectNode]) = {
    val pl = replayPlan(table, upTo)
    protocolGuard(spark, table, pl)
    if (replayBytes(table, pl) <= driverMaxLogBytes) {
      lastReplayPath = "driver"
      replayDriver(spark, table, pl)
    } else {
      lastReplayPath = "distributed"
      val (live, _, meta) = liveState(spark, table, pl)
      // O(live files): the scan seed any parquet reader needs on the
      // driver — the per-action replay state above stayed distributed.
      // stats stay out of the snapshot handoff (only [[skipScan]] needs
      // them, and it prunes on the DataFrame before collecting).
      (live.select("path", "partitionValues", "dv").collect().toSeq.map { r =>
        LiveFile(decodePath(r.getString(0)),
          Option(r.getMap[String, String](1))
            .map(_.toMap).getOrElse(Map.empty[String, String]), None,
          Option(r.getString(2)))
      }, meta)
    }
  }

  /** Tombstones younger than this are carried into checkpoints — Delta's
    * default `deletedFileRetentionDuration` (7 days); foreign VACUUMs
    * coordinate on them.
    */
  private val tombstoneRetentionMs = 7L * 24 * 3600 * 1000L

  /** `_last_checkpoint` pointer write that refuses REGRESSIONS: two
    * racing committers can both cross a %10 boundary, and unconditional
    * last-writer-wins ATOMIC_MOVE would let the older checkpoint
    * overwrite the newer pointer — safe only while the JSON prefix is
    * retained, silently wrong after compaction. The version check
    * shrinks the hazard to the read-check→move window (checkpoints 10+
    * commits apart racing inside it — vanishingly rare, and the stale
    * pointer still names a valid checkpoint whose later JSON commits
    * exist until a compaction that itself re-checkpoints).
    */
  private[graft] def writeLastCheckpoint(table: Path, v: Long, size: Long,
      parts: Option[Int] = None): Unit = {
    if (lastCheckpointVersion(table).exists(_ > v)) return
    val lc = mapper.createObjectNode()
    lc.put("version", v)
    lc.put("size", size)
    parts.foreach(lc.put("parts", _))
    val lcTmp = Files.createTempFile(logDir(table), ".lc-", ".tmp")
    Files.writeString(lcTmp, mapper.writeValueAsString(lc))
    Files.move(lcTmp, logDir(table).resolve("_last_checkpoint"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delta-spec parquet checkpoint: one row per action (nullable structs
    * for protocol / metaData / add / remove, like delta's own checkpoint
    * files), holding the COMPLETE live state at `version` — live adds
    * (dataChange=false, per spec) plus unexpired remove tombstones —
    * and the `_last_checkpoint` pointer `{"version":V,"size":N}`. Stock
    * Delta readers start from the newest checkpoint and replay only later
    * JSON commits, so after this runs the JSON prefix may be aged out of
    * the log without breaking them — Delta's log-compaction contract.
    *
    * Built on the DISTRIBUTED reconstruction unconditionally: the row
    * build and last-wins dedup run in executors. Above
    * [[partActionTarget]] actions (or when `parts` forces it) the write
    * is MULTI-PART (`V.checkpoint.I-of-N.parquet` + a `parts` field in
    * `_last_checkpoint`, the stock Delta large-table format), so even
    * the output write stays parallel; small checkpoints keep the classic
    * single file.
    */
  def checkpoint(spark: SparkSession, dir: String,
      parts: Option[Int] = None, v2: Boolean = false): Long = {
    val table = Paths.get(dir)
    val v = latestVersion(dir)
    // ONE log scan serves live-file state, the txn rows, and the
    // protocol row below (cached: the replay inputs are metadata-scale)
    val pl = replayPlan(table, v)
    val acts = actionsDF(spark, table, pl).cache()
    try {
    val (live, tombstones, metaOpt) = liveStateFrom(acts)
    val m = metaOpt.getOrElse(sys.error(s"$dir: no metaData action in log"))
    val cfgMap = Option(m.get("configuration")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String])
    // partitionColumns survive compaction — readers reattach partition
    // values from the checkpoint's add.partitionValues
    val pcSeq = partitionColsOf(Some(m))
    // the table's ACTUAL newest gate — a checkpoint that fabricated 1/2
    // would let post-compaction readers ignore DV descriptors or
    // column-mapping metadata the table requires
    val protoRow = {
      val base = newestProtocolNode(spark, table, pl)
        .map { p =>
          Row(Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1),
            Option(p.get("minWriterVersion")).map(_.asInt()).getOrElse(2),
            Option(p.get("readerFeatures"))
              .map(_.asScala.map(_.asText()).toSeq).orNull,
            Option(p.get("writerFeatures"))
              .map(_.asScala.map(_.asText()).toSeq).orNull)
        }.getOrElse(Row(1, 2, null, null))
      if (!v2) base
      else {
        // a v2 checkpoint's own protocol row must advertise the feature
        // readers need to open it (the spec's gate for exactly this)
        def add(fs: Any): Seq[String] =
          (Option(fs).map(_.asInstanceOf[Seq[String]]).getOrElse(Seq.empty) :+
            "v2Checkpoints").distinct
        Row(math.max(3, base.getInt(0)), math.max(7, base.getInt(1)),
          add(base.get(2)), add(base.get(3)))
      }
    }
    // live domain metadata survives compaction (newest-wins replay would
    // otherwise lose e.g. the rowIdHighWaterMark once the prefix ages out)
    val domainRows: Seq[Row] = domainMetadataMap(spark, dir, Some(v)).toSeq
      .sortBy(_._1).map { case (d, c) =>
        Row(null, null, null, null, null, Row(d, c, false))
      }
    val header = spark.createDataFrame(
      (Seq(
        Row(protoRow, null, null, null, null, null),
        Row(null, Row(
          m.get("id").asText(),
          Row("parquet", Map.empty[String, String]),
          m.get("schemaString").asText(),
          pcSeq,
          cfgMap,
          if (m.has("createdTime")) m.get("createdTime").asLong() else 0L),
          null, null, null, null)) ++ domainRows).asJava,
      StructType(Seq(
        StructField("protocol", protocolType),
        StructField("metaData", metaType),
        StructField("add", addType),
        StructField("remove", removeType),
        StructField("txn", txnType),
        StructField("domainMetadata", domainType))))
    val addRows = live.select(struct(
      col("path"),
      coalesce(col("partitionValues"),
        typedLit(Map.empty[String, String])).as("partitionValues"),
      col("size"),
      col("modificationTime"),
      lit(false).as("dataChange"),
      // stats survive compaction: a foreign reader starting from this
      // checkpoint keeps its data-skipping ability
      col("stats"),
      // deletion vectors survive too — a DV-bearing add replayed from
      // the checkpoint must keep hiding its rows
      from_json(col("dv"), dvType).as("deletionVector"),
      // row-tracking ids survive too — a compacted row-tracked table
      // must not silently renumber its stable row ids
      col("baseRowId"),
      col("defaultRowCommitVersion")).as("add"))
    val keepCutoff = System.currentTimeMillis() - tombstoneRetentionMs
    val removeRows = tombstones
      .filter(col("deletionTimestamp").isNull ||
        col("deletionTimestamp") >= keepCutoff)
      .select(struct(
        col("path"),
        col("deletionTimestamp"),
        lit(false).as("dataChange"),
        from_json(col("rdv"), dvType).as("deletionVector")).as("remove"))
    // the latest SetTransaction per appId survives compaction — the
    // protocol requirement that keeps exactly-once writers safe after
    // the JSON prefix ages out
    val txnRows = acts
      .filter(col("txn").isNotNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("txn.appId"))
          .orderBy(col("ver").desc, col("txn.version").desc)))
      .filter(col("rn") === 1)
      .select(col("txn"))
    val body = addRows.unionByName(removeRows, allowMissingColumns = true)
      .unionByName(txnRows, allowMissingColumns = true)
    if (v2)
      return writeV2Checkpoint(spark, table, v,
        header.unionByName(txnRows, allowMissingColumns = true)
          .select("protocol", "metaData", "txn", "domainMetadata"),
        addRows.unionByName(removeRows, allowMissingColumns = true)
          .select("add", "remove"),
        parts)
    val rows = header.unionByName(body, allowMissingColumns = true)
      .select("protocol", "metaData", "add", "remove", "txn", "domainMetadata")
    val nActions = rows.count()
    // MULTI-PART when the action count warrants it (or a spec forces it):
    // a 10M-file table's checkpoint must not funnel through one writer
    // task — stock Delta splits exactly this way (V.checkpoint.I.N
    // .parquet, actions distributed arbitrarily across parts).
    val wantParts = parts.getOrElse(
      math.max(1L, (nActions + partActionTarget - 1) / partActionTarget).toInt)
    val tmpDir = graft.Scratch.dir("graft_delta_ckpt")
    (if (wantParts > 1) rows.repartition(wantParts) else rows.coalesce(1))
      .write.mode("overwrite").parquet(tmpDir.toString)
    // empty partitions write no file: the ACTUAL file count is N
    val written = listDir(tmpDir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    if (written.isEmpty) sys.error("checkpoint write produced no parquet part")
    val n = written.size
    // Scratch may be tmpfs while the table is on disk: a direct cross-fs
    // Files.move degrades to copy+delete, and a concurrent reader could
    // open a truncated checkpoint. Stage into the log dir (same fs as the
    // target) first, then rename atomically — re-checkpointing the same
    // version writes identical logical content, so REPLACE is safe.
    def land(src: Path, target: Path): Unit = {
      val stagedTmp = Files.createTempFile(logDir(table), ".ckpt-", ".tmp")
      Files.copy(src, stagedTmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.move(stagedTmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(src)
    }
    if (n == 1)
      land(written.head, logDir(table).resolve(f"$v%020d.checkpoint.parquet"))
    else
      written.zipWithIndex.foreach { case (src, i) =>
        land(src, logDir(table).resolve(
          f"$v%020d.checkpoint.${i + 1}%010d.$n%010d.parquet"))
      }
    // stale part files from a prior re-checkpoint of the SAME version
    // with a different part count would corrupt the glob-discovered set;
    // sweep them once the new set is fully landed
    val keepNames = (if (n == 1) Seq(f"$v%020d.checkpoint.parquet")
      else (1 to n).map(i => f"$v%020d.checkpoint.$i%010d.$n%010d.parquet")).toSet
    listDir(logDir(table)).foreach { p =>
      val nm = p.getFileName.toString
      if (nm.startsWith(f"$v%020d.checkpoint.") && nm.endsWith(".parquet") &&
          !keepNames(nm))
        Files.deleteIfExists(p)
    }
    // pointer flips atomically too (and never regresses): a reader must
    // never see a truncated or older-than-known _last_checkpoint
    writeLastCheckpoint(table, v, nActions, if (n > 1) Some(n) else None)
    v
    } finally { acts.unpersist(); () } // also on failure: no leaked cache
  }

  /** V2-CHECKPOINT writer (the `v2Checkpoints` layout): the file
    * actions land in SIDECAR parquet files under `_delta_log/_sidecars/`
    * (split like multi-part), and the top-level
    * `V.checkpoint.<uniqueId>.parquet` carries only the non-file
    * actions plus one `sidecar` row per sidecar file and a
    * `checkpointMetadata` row — the layout stock Delta is converging on
    * for large tables (the tiny non-file header re-reads without
    * touching millions of add rows, and sidecars parallelize both
    * write AND read). [[checkpointDF]] reads it back; round-trip is
    * spec-pinned against the same golden state as the classic form.
    */
  private def writeV2Checkpoint(spark: SparkSession, table: Path, v: Long,
      nonFile: DataFrame, fileActs: DataFrame, parts: Option[Int]): Long = {
    import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
    val nFileActs = fileActs.count()
    val wantParts = parts.getOrElse(
      math.max(1L, (nFileActs + partActionTarget - 1) / partActionTarget).toInt)
    val scDir = Files.createDirectories(logDir(table).resolve("_sidecars"))
    val tmpDir = graft.Scratch.dir("graft_delta_ckpt_v2")
    (if (wantParts > 1) fileActs.repartition(wantParts) else fileActs.coalesce(1))
      .write.mode("overwrite").parquet(tmpDir.toString)
    val written = listDir(tmpDir)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
    if (written.isEmpty) sys.error("v2 checkpoint wrote no sidecar part")
    // deterministic uniqueId: re-checkpointing the same version lands
    // on the same names (REPLACE-safe, no orphan accumulation)
    val base = java.util.UUID.nameUUIDFromBytes(
      s"$table#$v".getBytes("UTF-8")).toString
    val sidecarNames = written.zipWithIndex.map { case (src, i) =>
      val name = f"$base-$i%05d.parquet"
      val stagedTmp = Files.createTempFile(scDir, ".sc-", ".tmp")
      Files.copy(src, stagedTmp, REPLACE_EXISTING)
      Files.move(stagedTmp, scDir.resolve(name), ATOMIC_MOVE, REPLACE_EXISTING)
      Files.deleteIfExists(src)
      name
    }
    import spark.implicits._
    val sidecarDf = sidecarNames.map { n =>
      val p = scDir.resolve(n)
      (n, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toDF("path", "sizeInBytes", "modificationTime")
      .select(struct(col("path"), col("sizeInBytes"),
        col("modificationTime")).as("sidecar"))
    val cpMetaDf = Seq(v).toDF("version")
      .select(struct(col("version")).as("checkpointMetadata"))
    val top = nonFile
      .unionByName(sidecarDf, allowMissingColumns = true)
      .unionByName(cpMetaDf, allowMissingColumns = true)
    val topTmp = graft.Scratch.dir("graft_delta_ckpt_v2top")
    top.coalesce(1).write.mode("overwrite").parquet(topTmp.toString)
    val topPart = listDir(topTmp)
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error("v2 checkpoint wrote no top-level file"))
    val target = logDir(table).resolve(f"$v%020d.checkpoint.$base.parquet")
    val stagedTop = Files.createTempFile(logDir(table), ".ckpt-", ".tmp")
    Files.copy(topPart, stagedTop, REPLACE_EXISTING)
    Files.move(stagedTop, target, ATOMIC_MOVE, REPLACE_EXISTING)
    Files.deleteIfExists(topPart)
    // sweep OTHER checkpoint forms of the same version — a leftover
    // classic file would shadow the v2 one in cpPaths
    listDir(logDir(table)).foreach { p =>
      val nm = p.getFileName.toString
      if (nm.startsWith(f"$v%020d.checkpoint.") && nm.endsWith(".parquet") &&
          p.getFileName != target.getFileName)
        Files.deleteIfExists(p)
    }
    writeLastCheckpoint(table, v, nFileActs + nonFile.count(), None)
    v
  }

  /** Actions per checkpoint part before the write splits multi-part.
    * @volatile: lowered by specs to force the multi-part path on
    * fixture-scale logs. */
  @volatile private[graft] var partActionTarget: Long = 1000000L

  /** Checkpoint every `interval` Delta versions (Delta's default cadence
    * is 10) — called by the TxLog committers after the mirror lands. */
  def maybeCheckpoint(spark: SparkSession, dir: String, txVersion: Long,
      interval: Long = 10L): Unit = {
    val deltaV = txVersion - 1
    if (deltaV > 0 && deltaV % interval == 0) { checkpoint(spark, dir); () }
  }

  private def partitionColsOf(meta: Option[ObjectNode]): Seq[String] =
    meta.flatMap(m => Option(m.get("partitionColumns")))
      .map(_.asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)

  private def tableSchemaOf(dir: String, meta: Option[ObjectNode]): StructType =
    meta.map(m => DataType.fromJson(m.get("schemaString").asText())
        .asInstanceOf[StructType])
      .getOrElse(sys.error(s"$dir: no metaData action in log"))

  // ------------------------------------------------- column mapping

  /** `delta.columnMapping.mode` in force for the table: "none" (the
    * default), "name" (parquet columns resolved by per-field PHYSICAL
    * names), or "id" (resolved by parquet field ids). Stock delta-spark
    * switches tables to "name" on a column-mapping upgrade (renames/
    * drops without rewriting data); Iceberg-converted tables use "id".
    * Under either mode the data files know nothing of the logical
    * names — a reader that ignores the mode returns `col-<uuid>`
    * columns, which is why the protocol gates it behind reader
    * version 2 / the `columnMapping` reader feature.
    */
  private def mappingMode(meta: Option[ObjectNode]): String =
    meta.flatMap(m => Option(m.get("configuration")))
      .flatMap(c => Option(c.get("delta.columnMapping.mode")))
      .filterNot(_.isNull).map(_.asText()).getOrElse("none")

  private val PhysNameKey = "delta.columnMapping.physicalName"
  private val MapIdKey = "delta.columnMapping.id"

  /** A field's physical (on-disk) name from its schemaString metadata.
    * Loud when absent: the protocol requires every field to carry it
    * once mapping is enabled, and guessing the logical name would read
    * the wrong column silently — the exact bug mapping support exists
    * to prevent.
    */
  private def physNameOf(f: StructField, table: Path): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey)
    else sys.error(s"$table: column mapping is enabled but field " +
      s"'${f.name}' carries no $PhysNameKey in schemaString")

  private def fieldIdOf(f: StructField, table: Path): Long =
    if (f.metadata.contains(MapIdKey)) f.metadata.getLong(MapIdKey)
    else sys.error(s"$table: column mapping mode 'id' but field " +
      s"'${f.name}' carries no $MapIdKey in schemaString")

  /** Logical schema rewritten to physical names, recursively — mapping
    * applies to NESTED struct fields too (each carries its own
    * metadata), while array/map shapes pass through unchanged.
    */
  private def physicalType(dt: DataType, table: Path): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      StructField(physNameOf(f, table), physicalType(f.dataType, table), f.nullable)))
    case ArrayType(et, n) => ArrayType(physicalType(et, table), n)
    case MapType(k, v, n) => MapType(physicalType(k, table), physicalType(v, table), n)
    case other => other
  }

  private def containsStruct(dt: DataType): Boolean = dt match {
    case _: StructType => true
    case ArrayType(et, _) => containsStruct(et)
    case MapType(k, v, _) => containsStruct(k) || containsStruct(v)
    case _ => false
  }

  /** Column read under physical names, re-labeled to the logical shape:
    * structs rebuild field-by-field (null-guarded — `struct()` of nulls
    * is not null), arrays/maps relabel element-wise via higher-order
    * functions, scalars pass through. Runs in executors as ordinary
    * expressions — the rename is a projection, not a rewrite.
    */
  private def toLogical(c: Column, dt: DataType, table: Path): Column = dt match {
    case st: StructType =>
      when(c.isNotNull, struct(st.fields.toSeq.map { f =>
        toLogical(c.getField(physNameOf(f, table)), f.dataType, table).as(f.name)
      }: _*))
    case ArrayType(et, _) if containsStruct(et) =>
      transform(c, x => toLogical(x, et, table))
    case MapType(_, vt, _) if containsStruct(vt) =>
      transform_values(c, (_, x) => toLogical(x, vt, table))
    case _ => c
  }

  private def quoted(n: String): String = "`" + n.replace("`", "``") + "`"

  /** Resolve an `add.path`: RELATIVE to the table root normally;
    * ABSOLUTE paths pass through — the protocol allows absolute URIs,
    * and shallow clones use them to reference the source's files in
    * place (zero bytes copied). */
  private def resolveDataPath(table: Path, p: String): Path =
    if (p.startsWith("/")) Paths.get(p)
    else if (p.startsWith("file:")) Paths.get(java.net.URI.create(p))
    else table.resolve(p)

  /** Logical→stats/partitionValues key mapping for a table: identity
    * for plain tables, the field's physicalName when mapping is on
    * (both modes key file stats and partition values by physical name).
    */
  private def physMapping(schema: StructType, table: Path,
      meta: Option[ObjectNode]): String => String =
    if (mappingMode(meta) == "none") identity
    else c => physNameOf(schema.find(_.name == c).getOrElse(
      sys.error(s"$table: no column '$c' in the table schema")), table)

  /** Read schema for mode "id": the LOGICAL names with Spark's
    * `parquet.field.id` metadata injected from the Delta mapping ids,
    * recursively — Spark's parquet reader then resolves columns by the
    * field ids id-mode writers stamped into the files and returns the
    * logical names directly (`spark.sql.parquet.fieldId.read.enabled`).
    */
  private def withFieldIds(st: StructType, table: Path): StructType =
    StructType(st.fields.map { f =>
      def rec(dt: DataType): DataType = dt match {
        case s: StructType => withFieldIds(s, table)
        case ArrayType(et, n) => ArrayType(rec(et), n)
        case MapType(k, v, n) => MapType(rec(k), rec(v), n)
        case o => o
      }
      StructField(f.name, rec(f.dataType), f.nullable,
        new MetadataBuilder().withMetadata(f.metadata)
          .putLong("parquet.field.id", fieldIdOf(f, table)).build())
    })

  /** True when `f`'s path starts with the Hive-style `col=value`
    * directory chain — one segment per partition column, IN ORDER,
    * DIRECTLY under the table root, AGREEING with the log's
    * partitionValues. That's the layout stock delta-spark writes, and
    * exactly what Spark's partition discovery accepts (partition dirs
    * anywhere deeper — e.g. nested inside TxLog batch dirs — would trip
    * CONFLICTING_DIRECTORY_STRUCTURES, so those route to the grouped
    * fallback). Escaping is Hive's own path escaping, null =
    * `__HIVE_DEFAULT_PARTITION__`.
    */
  private def hiveStyle(f: LiveFile, pcs: Seq[String]): Boolean = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val segs = f.path.split("/")
    segs.length > pcs.length && pcs.zipWithIndex.forall { case (c, i) =>
      val v = f.partitionValues.getOrElse(c, null)
      segs(i) == escapePathName(c) + "=" +
        (if (v == null) "__HIVE_DEFAULT_PARTITION__" else escapePathName(v))
    }
  }

  /** Scan a replayed live-file set, reattaching PARTITION COLUMNS for
    * partitioned tables — their values live in the log's
    * `add.partitionValues`, not the data files (the Delta spec's
    * reader requirement). Two shapes:
    *
    *  - Hive-style layout (what delta-spark writes, verified per file
    *    against the log values): one `basePath` read — Spark's own
    *    partition discovery supplies the columns, typed by the
    *    metaData schema passed as the read schema, and partition
    *    predicates prune DIRECTORIES in the scan (PartitionFilters in
    *    the plan), the native 100 TB path.
    *  - Anything else: group files by partition tuple and union
    *    per-group scans with the values as typed literals. Correct for
    *    arbitrary foreign layouts, but O(distinct partitions) in plan
    *    size — documented as the compatibility path, not the scale one.
    */
  /** Files WITHOUT a deletion vector read through the plain scans;
    * DV-bearing files read in their own scan carrying the parquet
    * `_metadata` file-path + row-index columns, filtered by the
    * broadcast bitmaps (rows the DV names are hidden — the Delta
    * reader requirement for DV tables), then union. The DV filter is
    * per-row bitmap membership, exactly stock Delta's application
    * shape; everything else in the plan is unchanged.
    */
  private def readFiles(spark: SparkSession, table: Path,
      files: Seq[LiveFile], meta: Option[ObjectNode]): DataFrame = {
    val (dvFiles, plain) = files.partition(_.dv.isDefined)
    val base = readFilesRaw(spark, table, plain, meta, withMeta = false)
    if (dvFiles.isEmpty) base
    else {
      val keep = DeletionVectors.keepUdf(spark, table,
        dvFiles.map(f => f.path -> f.dv.get).toMap)
      val dvDf = readFilesRaw(spark, table, dvFiles, meta, withMeta = true)
        .filter(keep(col("__dv_file"), col("__dv_row")))
        .drop("__dv_file", "__dv_row")
      if (plain.isEmpty) dvDf else base.unionByName(dvDf)
    }
  }

  private def readFilesRaw(spark: SparkSession, table: Path,
      files: Seq[LiveFile], meta: Option[ObjectNode],
      withMeta: Boolean): DataFrame = {
    val pcs = partitionColsOf(meta)
    def metaCols(df: DataFrame): DataFrame =
      if (!withMeta) df
      else df.withColumn("__dv_file", col("_metadata.file_path"))
        .withColumn("__dv_row", col("_metadata.row_index"))
    val mode = mappingMode(meta)
    if (files.isEmpty) {
      // valid empty table: schema comes from metaData, not file inference
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        tableSchemaOf(table.toString, meta))
    } else if (mode != "none") {
      // COLUMN-MAPPED table: the parquet files carry physical
      // (`col-<uuid>`) names, not the logical ones — resolve per the
      // mode and hand back the logical shape. "name": read under the
      // physical schema and re-label (a projection — executors never
      // copy data). "id": read under the logical schema with
      // `parquet.field.id` injected from the mapping ids; Spark's
      // parquet reader resolves by the ids id-mode writers stamped
      // into the footers and returns logical names directly.
      if (mode != "name" && mode != "id")
        sys.error(s"$table: unsupported delta.columnMapping.mode '$mode'")
      val schema = tableSchemaOf(table.toString, meta)
      val dataFields = schema.filterNot(f => pcs.contains(f.name)).toSeq
      val dataSchema = StructType(dataFields)
      def readGroup(fs: Seq[LiveFile]): DataFrame = {
        val paths = fs.map(f => resolveDataPath(table, f.path).toString)
        val base = metaCols(
          if (mode == "id") {
            // session-level switch (no per-read option exists): benign
            // for schemas without parquet.field.id metadata — the flag
            // only changes resolution when ids are present on BOTH the
            // read schema and the files, which is exactly the id-mode
            // contract. Left enabled once set.
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
            spark.read.schema(withFieldIds(dataSchema, table)).parquet(paths: _*)
          } else spark.read
            .schema(physicalType(dataSchema, table).asInstanceOf[StructType])
            .parquet(paths: _*))
        val extras = if (withMeta) Seq(col("__dv_file"), col("__dv_row")) else Seq.empty
        if (mode == "id")
          base.select(dataFields.map(f => base.col(quoted(f.name))) ++ extras: _*)
        else base.select(dataFields.map { f =>
          toLogical(base.col(quoted(physNameOf(f, table))), f.dataType, table).as(f.name)
        } ++ extras: _*)
      }
      if (pcs.isEmpty) readGroup(files)
      else {
        // `add.partitionValues` is keyed by PHYSICAL names under
        // mapping, and the directory layout uses physical names too —
        // so Spark's hive-style discovery can't reattach the logical
        // columns. Mapped partitioned tables take the grouped fallback
        // (values as typed literals): correct for arbitrary layouts,
        // O(distinct partitions) in plan size — the compatibility
        // path, same trade as unmapped non-hive layouts below.
        val pcFields = pcs.map(c => schema.find(_.name == c).getOrElse(
          sys.error(s"$table: partition column '$c' missing from schemaString")))
        val physPc = pcFields.map(f => physNameOf(f, table))
        val ordered = schema.fieldNames.toSeq.map(n => col(quoted(n)))
        val sel = if (withMeta) ordered ++ Seq(col("__dv_file"), col("__dv_row"))
          else ordered
        files.groupBy(f => physPc.map(p => f.partitionValues.getOrElse(p, null)))
          .toSeq.map { case (vals, fs) =>
            pcFields.zip(vals).foldLeft(readGroup(fs)) { case (df, (fld, v)) =>
              df.withColumn(fld.name,
                (if (v == null) lit(null) else lit(v)).cast(fld.dataType))
            }
          }.reduce(_.unionByName(_)).select(sel: _*)
      }
    } else if (pcs.isEmpty) {
      // typed by the metaData schema when the log carries one — the
      // Delta reader requirement, and what makes metadata-only schema
      // evolution read correctly: pre-ADD files null-fill the new
      // column, data of DROPped columns projects away. Absent metaData
      // (defensive: every real log has one) falls back to inference.
      val rd = meta.map(_ => spark.read.schema(tableSchemaOf(table.toString, meta)))
        .getOrElse(spark.read)
      metaCols(rd.parquet(files.map(f => resolveDataPath(table, f.path).toString): _*))
    } else {
      val schema = tableSchemaOf(table.toString, meta)
      val ordered = schema.fieldNames.toSeq.map(col)
      val sel = if (withMeta) ordered ++ Seq(col("__dv_file"), col("__dv_row"))
        else ordered
      if (files.forall(hiveStyle(_, pcs)))
        metaCols(spark.read.schema(schema)
          .option("basePath", table.toString)
          .parquet(files.map(f => resolveDataPath(table, f.path).toString): _*))
          .select(sel: _*)
      else {
        val pcFields = pcs.map(c => schema.find(_.name == c).getOrElse(
          sys.error(s"$table: partition column '$c' missing from schemaString")))
        val dataSchema = StructType(schema.filterNot(f => pcs.contains(f.name)))
        files.groupBy(f => pcs.map(c => f.partitionValues.getOrElse(c, null)))
          .toSeq.map { case (vals, fs) =>
            val base = metaCols(spark.read.schema(dataSchema)
              .parquet(fs.map(f => resolveDataPath(table, f.path).toString): _*))
            pcFields.zip(vals).foldLeft(base) { case (df, (fld, v)) =>
              df.withColumn(fld.name,
                (if (v == null) lit(null) else lit(v)).cast(fld.dataType))
            }
          }
          .reduce(_.unionByName(_))
          .select(sel: _*)
      }
    }
  }

  /** Latest SetTransaction version for `appId` at the newest snapshot —
    * the exactly-once coordination read. JSON tail scans newest-first
    * (config-scale; first hit is the max — app versions commit in
    * increasing order, stock Delta's own assumption); a compacted log
    * falls back to the checkpoint's txn rows, which [[checkpoint]]
    * preserves per the protocol.
    */
  def txnVersion(spark: SparkSession, dir: String, appId: String): Option[Long] = {
    val table = Paths.get(dir)
    val latest = latestVersionOption(dir).getOrElse(return None)
    val pl = replayPlan(table, latest)
    def fromJson(v: Long): Option[Long] =
      Files.readAllLines(commitPath(table, v)).asScala.iterator
        .filter(_.contains("\"txn\"")).map(mapper.readTree)
        .flatMap(n => Option(n.get("txn")))
        .filter(t => t.get("appId").asText() == appId)
        .map(_.get("version").asLong()).nextOption()
    pl.tail.reverseIterator.flatMap(fromJson(_)).nextOption().orElse {
      val cps = pl.cpPaths(table)
      if (cps.isEmpty) None
      else {
        val df = spark.read.parquet(cps.map(_.toString): _*)
        if (!df.columns.contains("txn")) None
        else df.filter(col("txn").isNotNull && col("txn.appId") === appId)
          .agg(max(col("txn.version"))).collect().headOption
          .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      }
    }
  }

  /** Snapshot-isolated read of a Delta table at `version` (default:
    * latest), via pure log replay — works on any Delta table regardless
    * of which engine wrote it, including partitioned ones (partition
    * columns are reattached from the log's partitionValues).
    */
  def snapshotAt(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val table = Paths.get(dir)
    val (files, meta) = replay(spark, table, version)
    readFiles(spark, table, files, meta)
  }

  def snapshot(spark: SparkSession, dir: String): DataFrame = {
    // the newest version may live only in the checkpoint if the JSON
    // commits were aged out after compaction
    val latest = latestVersion(dir)
    snapshotAt(spark, dir, latest)
  }

  /** FOREIGN-reader row-id snapshot: `_row_id` attached from the DELTA
    * LOG ALONE — `add.baseRowId` via replay (JSON tail or checkpoint),
    * positions from `_metadata.row_index`, materialized ids from the
    * column `delta.rowTracking.materializedRowIdColumnName` names,
    * resolved by one coalesce. The twin of [[TxLog.snapshotWithRowIds]]
    * (which reads the `#rid` manifest headers): any rowTracking-aware
    * Delta reader consuming this log computes the same ids, and a spec
    * asserts the two agree. Same scale shape — one config-scale
    * broadcast (file → base) map, the corpus never shuffles. DV-bearing
    * files filter by position first (hidden rows keep no id).
    *
    * COLUMN MAPPING composes, on any layout: the scan resolves physical
    * names (or field ids) exactly like the plain snapshot read and
    * relabels to logical after the id attach; the materialized row-id
    * column has no mapping entry (it is file-level, never a table
    * column) and always matches by its config name. PARTITION columns
    * compose too — their directory segments and log values are keyed by
    * PHYSICAL names, so a hive layout that agrees with the log reads
    * through Spark's own partition discovery (directory pruning intact,
    * the scale path) under the physical names and relabels with the
    * rest; any other layout takes the same grouped-literal fallback the
    * plain reader uses (values as typed literals — correct for
    * arbitrary foreign layouts, O(distinct partitions) in plan size).
    */
  def snapshotWithRowIds(spark: SparkSession, dir: String): DataFrame = {
    val table = Paths.get(dir)
    val latest = latestVersion(dir)
    val pl = replayPlan(table, latest)
    protocolGuard(spark, table, pl)
    val (live, _, metaOpt) = liveState(spark, table, pl)
    val meta = metaOpt.getOrElse(sys.error(s"$dir: no metaData action"))
    val mode = mappingMode(Some(meta))
    if (mode != "none" && mode != "name" && mode != "id")
      sys.error(s"$dir: unsupported delta.columnMapping.mode '$mode'")
    val cfg = Option(meta.get("configuration")).map(_.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    if (!cfg.get("delta.enableRowTracking").contains("true"))
      sys.error(s"$dir: snapshotWithRowIds needs delta.enableRowTracking=true")
    val matCol = cfg.get("delta.rowTracking.materializedRowIdColumnName")
    val schema = tableSchemaOf(dir, Some(meta))
    val pcs = partitionColsOf(Some(meta))
    // stats, partitionValues, and hive directory segments are all keyed
    // by PHYSICAL names under mapping (identity otherwise)
    val toPhys = physMapping(schema, table, Some(meta))
    val physPcs = pcs.map(toPhys)
    case class RF(path: String, dv: Option[String], base: Option[Long],
      nr: Option[Long], pv: Map[String, String])
    // config-scale: one row per live file
    val st = live.select(col("path"), col("dv"), col("baseRowId"),
      get_json_object(col("stats"), "$.numRecords").cast(LongType).as("nr"),
      coalesce(col("partitionValues"),
        typedLit(Map.empty[String, String])).as("pv"))
      .collect()
    val fs = st.map { r =>
      RF(decodePath(r.getString(0)), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getAs[Map[String, String]](4))
    }.toSeq
    val untracked = fs.filter(f => f.base.isEmpty && !f.nr.contains(0L))
    if (untracked.nonEmpty)
      sys.error(s"$dir: ${untracked.size} row-carrying add(s) have no " +
        "baseRowId — the log predates row tracking for them")
    val dvs = fs.collect { case RF(p, Some(d), _, _, _) => p -> d }.toMap
    def addMat(s: StructType): StructType =
      matCol.filterNot(s.fieldNames.contains)
        .map(c => s.add(c, LongType, nullable = true)).getOrElse(s)
    val readSchema = addMat(mode match {
      case "name" => physicalType(schema, table).asInstanceOf[StructType]
      case "id" =>
        // same session-level switch the plain id-mode read uses
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        // partition columns never live in the footers — they resolve
        // from the directory layout (or the literal attach) under their
        // PHYSICAL names, so they enter the read schema physically
        // named and id-less while data fields keep field-id resolution
        StructType(schema.fields.map { f =>
          if (pcs.contains(f.name))
            StructField(physNameOf(f, table), f.dataType, f.nullable)
          else withFieldIds(StructType(Array(f)), table).fields.head
        })
      case _ => schema
    })
    val norm = (c: org.apache.spark.sql.Column) =>
      when(c.startsWith("file:"),
        regexp_replace(url_decode(regexp_replace(c, "\\+", "%2B")),
          "^file:/+", "/"))
        .otherwise(c)
    def withProvenance(df: DataFrame): DataFrame = {
      val out = df
        .withColumn("__file", norm(col("_metadata.file_path")))
        .withColumn("__pos", col("_metadata.row_index"))
      if (dvs.isEmpty) out
      else {
        val keep = DeletionVectors.keepUdf(spark, table, dvs)
        out.filter(keep(col("_metadata.file_path"), col("_metadata.row_index")))
      }
    }
    val rels = fs.map(_.path)
    def rd = spark.read.schema(readSchema)
    // hive detection and batch grouping walk the RESOLVED absolute
    // path's parent chain, not the raw rel string: shallow-clone logs
    // store absolute file: URIs whose first rel segment is "file:" — a
    // rel-string groupBy would derive a bogus basePath and fail the
    // read even though every file is reachable via resolveDataPath.
    // The batch dir is the nearest ancestor above the hive `col=value`
    // segments, which is exactly what partition discovery wants as
    // basePath.
    def batchDirOf(rel: String): Path = {
      var p = resolveDataPath(table, rel).toAbsolutePath.getParent
      while (p.getParent != null && p.getFileName != null &&
          p.getFileName.toString.contains("=")) p = p.getParent
      p
    }
    val hasHive = rels.exists(r =>
      batchDirOf(r) != resolveDataPath(table, r).toAbsolutePath.getParent)
    // a file reads through partition DISCOVERY only when its directory
    // chain AGREES with the log: the physPcs.length segments directly
    // above it are `physPc=value` in order, matching add.partitionValues
    // (Hive path escaping, null = __HIVE_DEFAULT_PARTITION__). Anything
    // else would let a mislaid path silently override the log, so it
    // routes to the grouped-literal fallback where the log is
    // authoritative.
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    def hiveAgree(f: RF): Boolean = {
      val segs = resolveDataPath(table, f.path).toAbsolutePath.toString.split("/")
      segs.length > physPcs.length + 1 && physPcs.zipWithIndex.forall {
        case (c, i) =>
          val v = f.pv.getOrElse(c, null)
          segs(segs.length - 1 - physPcs.length + i) == escapePathName(c) +
            "=" + (if (v == null) "__HIVE_DEFAULT_PARTITION__"
                   else escapePathName(v))
      }
    }
    val scanned =
      if (pcs.nonEmpty && !fs.forall(hiveAgree)) {
        // partition values live only in the log (or the layout is not
        // hive-parseable): group files by partition tuple and attach the
        // values as typed literals under their PHYSICAL names — the
        // plain reader's compatibility fallback, composed with
        // provenance + DV filtering
        val pcFields = pcs.map(c => schema.find(_.name == c).getOrElse(
          sys.error(s"$dir: partition column '$c' missing from schemaString")))
        fs.groupBy(f => physPcs.map(p => f.pv.getOrElse(p, null)))
          .toSeq.sortBy(_._1.mkString("\u0000"))
          .map { case (vals, g) =>
            val base = withProvenance(rd.parquet(
              g.map(f => resolveDataPath(table, f.path).toString): _*))
            pcFields.zip(vals).foldLeft(base) { case (df, (fld, v)) =>
              df.withColumn(toPhys(fld.name),
                (if (v == null) lit(null) else lit(v)).cast(fld.dataType))
            }
          }.reduce(_.unionByName(_))
      } else if (!hasHive)
        withProvenance(rd.parquet(rels.map(r =>
          resolveDataPath(table, r).toString): _*))
      else rels.groupBy(batchDirOf).toSeq.sortBy(_._1.toString)
        .map { case (batch, fsB) =>
          withProvenance(rd.option("basePath", batch.toString)
            .parquet(fsB.map(r => resolveDataPath(table, r).toString): _*))
        }.reduce(_.unionByName(_))
    import spark.implicits._
    val bases = fs.collect { case RF(p, _, Some(b), _, _) =>
      (resolveDataPath(table, p).toAbsolutePath.toString, b)
    }.toDF("__file_abs", "__base")
    // per-field logical resolution: under "name" every column reads back
    // physically named and relabels (a projection — no data copied);
    // under "id" data fields resolve to logical names natively but
    // partition columns are still physically named (directory layout /
    // log keys); "none" passes through
    val outCols: Seq[org.apache.spark.sql.Column] = schema.fields.toSeq.map { f =>
      if (mode == "name" || (mode == "id" && pcs.contains(f.name)))
        toLogical(scanned.col(quoted(physNameOf(f, table))), f.dataType,
          table).as(f.name)
      else scanned.col(quoted(f.name))
    }
    val rowId = matCol
      .map(c => coalesce(col(c), col("__base") + col("__pos")))
      .getOrElse(col("__base") + col("__pos"))
    scanned.join(broadcast(bases), col("__file") === col("__file_abs"),
        "left")
      .select(outCols :+ rowId.as("_row_id"): _*)
  }

  /** A commit's wall-clock time: `commitInfo.timestamp` when the action
    * is present (this engine's mirror always writes it), else the commit
    * file's modification time — the exact fallback order stock Delta's
    * timestamp resolution uses.
    */
  private def commitTimestamp(p: Path): Long =
    Files.readAllLines(p).asScala.iterator
      .filter(_.contains("\"commitInfo\""))
      .map(mapper.readTree)
      .flatMap(n => Option(n.get("commitInfo")))
      .flatMap(ci =>
        // IN-COMMIT TIMESTAMPS (the inCommitTimestamp writer feature):
        // when present it IS the commit's authoritative time — the spec
        // makes timestamp queries use it precisely because file mtimes
        // and wall-clock `timestamp` drift under copies and retries
        Option(ci.get("inCommitTimestamp"))
          .orElse(Option(ci.get("timestamp"))).map(_.asLong()))
      .nextOption()
      .getOrElse(Files.getLastModifiedTime(p).toMillis)

  /** Resolve a wall-clock timestamp to the newest version committed at
    * or before it — stock Delta's `timestampAsOf` contract. Commit times
    * from racing committers need not be monotone, so each commit's
    * EFFECTIVE time is max(its recorded time, predecessor + 1 ms) — the
    * same normalization Delta's own resolver applies — making
    * resolution total and order-consistent. O(commit files) metadata
    * reads, like replay itself. Fails loudly for a timestamp before the
    * earliest AVAILABLE commit (including when the JSON prefix carrying
    * the needed timestamps was aged out — timestamps don't survive into
    * checkpoints, in this engine or stock Delta).
    */
  /** PROTOCOL.md change-data-feed read — the `table_changes` contract,
    * straight off the Delta log: for each tx version in (fromV, toV],
    * consume the commit's `cdc` actions when present (their files carry
    * `_change_type` in-row); a commit without cdc actions derives
    * `insert` rows from its dataChange adds; a dataChange REMOVE
    * without cdc refuses — the log does not record which rows died,
    * and guessing would feed wrong rows downstream. This is the
    * foreign-readable twin of [[TxLog.changeFeed]] (which synthesizes
    * from DV diffs): any CDF-aware Delta reader consuming this log
    * sees the same records. */
  def tableChanges(spark: SparkSession, dir: String, fromV: Long,
      toV: Long): DataFrame = {
    val table = Paths.get(dir)
    def readFiles(rels: Seq[String]): DataFrame =
      if (!rels.exists(_.contains("=")))
        spark.read.parquet(rels.map(r => table.resolve(r).toString): _*)
      else rels.groupBy(_.split("/").head).toSeq.sortBy(_._1)
        .map { case (b, fs) =>
          spark.read.option("basePath", table.resolve(b).toString)
            .parquet(fs.map(r => table.resolve(r).toString): _*)
        }.reduce(_.unionByName(_))
    val feeds = ((fromV + 1) to toV).flatMap { v =>
      val nodes = Files.readAllLines(commitPath(table, v - 1)).asScala
        .filter(_.trim.nonEmpty).map(mapper.readTree)
      val cdc = nodes.filter(_.has("cdc"))
        .map(n => decodePath(n.get("cdc").get("path").asText())).toSeq
      val dcAdds = nodes.filter(n => n.has("add") &&
          n.get("add").get("dataChange").asBoolean(false))
        .map(n => decodePath(n.get("add").get("path").asText())).toSeq
      val dcRemoves = nodes.exists(n => n.has("remove") &&
        Option(n.get("remove").get("dataChange")).forall(_.asBoolean(true)))
      if (cdc.nonEmpty)
        Some(readFiles(cdc).withColumn("_commit_version", lit(v)))
      else if (dcRemoves)
        sys.error(s"$dir: delta version ${v - 1} changed rows without " +
          "change-data files — set delta.enableChangeDataFeed=true before " +
          "the DML, or use TxLog.changeFeed (DV-diff synthesis)")
      else if (dcAdds.nonEmpty)
        Some(readFiles(dcAdds)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v)))
      else None
    }
    // SCHEMA CONTRACT across evolution (stock Delta's CDF rule),
    // shared with TxLog.changeFeed: see [[CdfAlign]]. tableChanges
    // takes graft versions; the Delta log is 0-based. The materialized
    // row-id column is file-level (a row-tracked OPTIMIZE bakes it
    // into replacement footers, never the table schema) and excluded
    // from the drop check.
    val aligned = CdfAlign.align(dir, "tableChanges", fromV, toV,
      snapshotAt(spark, dir, toV - 1).schema,
      tableConfig(table)
        .get("delta.rowTracking.materializedRowIdColumnName").toSet,
      feeds)
    aligned.reduceOption(_.unionByName(_))
      .getOrElse(snapshot(spark, dir).limit(0)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(toV)))
  }

  def versionAsOf(dir: String, timestampMs: Long): Long = {
    val table = Paths.get(dir)
    val vs = versions(dir)
    if (vs.isEmpty) sys.error(s"no Delta commit files in $dir — " +
      "timestamp time travel needs the JSON commits")
    var eff = Long.MinValue
    var ans = -1L
    vs.foreach { v =>
      eff = math.max(commitTimestamp(commitPath(table, v)), eff + 1)
      if (eff <= timestampMs) ans = v
    }
    if (ans < 0)
      sys.error(s"$dir: timestamp $timestampMs predates the earliest " +
        s"available commit (version ${vs.head})")
    ans
  }

  /** Snapshot-isolated read as of a wall-clock timestamp. */
  def snapshotAsOf(spark: SparkSession, dir: String, timestampMs: Long): DataFrame =
    snapshotAt(spark, dir, versionAsOf(dir, timestampMs))

  /** The FIRST retained Delta version whose (monotonicized, ICT-aware
    * — [[versionAsOf]]'s identical clock) commit timestamp is at or
    * after `timestampMs` — the streaming `startingTimestamp` contract:
    * "all changes committed at or after the timestamp". One PAST the
    * newest version when the timestamp postdates every commit: the
    * stream starts empty and tails future commits, stock Delta's
    * shape. Resolution is over the RETAINED JSON commits; history aged
    * past the newest checkpoint cannot be timestamp-addressed (it
    * cannot be replayed either). */
  def versionAtOrAfter(dir: String, timestampMs: Long): Long = {
    val table = Paths.get(dir)
    val vs = versions(dir)
    if (vs.isEmpty) sys.error(s"no Delta commit files in $dir — " +
      "startingTimestamp needs the JSON commits")
    var eff = Long.MinValue
    var ans = -1L
    vs.foreach { v =>
      eff = math.max(commitTimestamp(commitPath(table, v)), eff + 1)
      if (ans < 0 && eff >= timestampMs) ans = v
    }
    if (ans < 0) vs.max + 1 else ans
  }

  // ----------------------------------------------------- data skipping

  /** (files in the snapshot, files the last [[skipScan]] actually read)
    * — observability for specs and plan audits. */
  @volatile private[graft] var lastSkipScan: (Long, Long) = (0L, 0L)

  /** File-pruning keep-condition over a live-files frame carrying a
    * `stats` column: a file SURVIVES unless its stats PROVE no row can
    * match — `min > hi` or `max < lo` for some predicate. Absent stats,
    * a malformed stats string (from_json → null in PERMISSIVE mode), or
    * a column the writer skipped all fall through to `keep` via the
    * coalesce defaults: skipping is an optimization, never a filter.
    */
  private def keepCond(statsCol: org.apache.spark.sql.Column,
      tableSchema: StructType,
      preds: Seq[(String, Any, Any)],
      phys: String => String = identity): org.apache.spark.sql.Column = {
    // distinct by name: two predicates on one column (a legal way to
    // express two bounds) must not yield duplicate struct fields, which
    // would make getField ambiguous. `phys` maps a logical predicate
    // column to the name the stats JSON keys it by — identity for plain
    // tables, the physicalName for column-mapped ones (stock writers
    // key minValues/maxValues by PHYSICAL name under mapping).
    val fields = preds.map(_._1).distinct.map { c =>
      tableSchema.find(_.name == c).getOrElse(
        sys.error(s"skipScan: no column '$c' in the table schema"))
    }
    val statsSchema = StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", StructType(fields.map(f => StructField(phys(f.name), f.dataType)))),
      StructField("maxValues", StructType(fields.map(f => StructField(phys(f.name), f.dataType)))),
      StructField("nullCount", StructType(fields.map(f => StructField(phys(f.name), LongType))))))
    val s = from_json(statsCol, statsSchema)
    preds.map { case (c, lo, hi) =>
      val dt = fields.find(_.name == c).get.dataType
      val loOk = Option(lo).map(v =>
        coalesce(s.getField("maxValues").getField(phys(c)) >= lit(v).cast(dt), lit(true)))
        .getOrElse(lit(true))
      val hiOk = Option(hi).map(v =>
        coalesce(s.getField("minValues").getField(phys(c)) <= lit(v).cast(dt), lit(true)))
        .getOrElse(lit(true))
      loOk && hiOk
    }.reduce(_ && _)
  }

  /** Partition-value pruning: for predicates on PARTITION columns the
    * per-file value is a constant carried in `add.partitionValues`, so a
    * file prunes when that value falls outside the range — no stats
    * needed. Missing/null values keep the file (the residual filter
    * still applies); non-partition predicates are ignored here (that's
    * [[keepCond]]'s job).
    */
  private def partCond(pvCol: org.apache.spark.sql.Column, pcs: Seq[String],
      tableSchema: StructType,
      preds: Seq[(String, Any, Any)],
      phys: String => String = identity): org.apache.spark.sql.Column = {
    val conds = preds.filter(p => pcs.contains(p._1)).map { case (c, lo, hi) =>
      val f = tableSchema.find(_.name == c).getOrElse(
        sys.error(s"skipScan: no column '$c' in the table schema"))
      // partitionValues are keyed by physical name under column mapping
      val v = element_at(pvCol, phys(c)).cast(f.dataType)
      val loOk = Option(lo).map(x =>
        coalesce(v >= lit(x).cast(f.dataType), lit(true))).getOrElse(lit(true))
      val hiOk = Option(hi).map(x =>
        coalesce(v <= lit(x).cast(f.dataType), lit(true))).getOrElse(lit(true))
      loOk && hiOk
    }
    if (conds.isEmpty) lit(true) else conds.reduce(_ && _)
  }

  /** Stats-driven data skipping: read the snapshot, but PRUNE files whose
    * log-carried `add.stats` prove they hold no row matching the given
    * inclusive range predicates `(column, lower, upper)` (null bound =
    * unbounded). This is the Delta data-skipping contract: at 100 TB the
    * win is not evaluating the filter faster, it's never opening the
    * files at all — O(matching files) I/O instead of O(table).
    *
    * Routing mirrors [[replay]]: below the guard the (config-scale)
    * driver entries are localized to a one-partition frame; above it the
    * prune is a FILTER on the distributed reconstruction, so only the
    * surviving paths — not per-file stats — ever reach the driver. Both
    * paths share [[keepCond]], so they cannot diverge. The predicates
    * are re-applied to the scanned rows, so the result is EXACTLY the
    * filtered snapshot whether or not any file could be pruned.
    */
  /** Replay the LATEST snapshot and flag every live file with the shared
    * keep-condition for `preds`: `(file, keep)` pairs (decoded paths)
    * plus the metaData. `keep = false` means the stats/partition values
    * PROVE no row of that file can match. Routing mirrors [[replay]]:
    * below the guard the (config-scale) driver entries are localized to
    * a frame and pruned with the SAME conditions as the distributed
    * path; above it the verdicts run in executors and only (path,
    * partitionValues, keep) reach the driver — never the stats payloads.
    * Shared by [[skipScan]] and the TxLog row-level rewrites (candidate
    * selection for DELETE/UPDATE/MERGE).
    */
  private[graft] def pruneFlags(spark: SparkSession, dir: String,
      preds: Seq[(String, Any, Any)]): (Seq[(LiveFile, Boolean)], Option[ObjectNode]) = {
    val table = Paths.get(dir)
    val latest = latestVersion(dir)
    val pl = replayPlan(table, latest)
    protocolGuard(spark, table, pl)
    val pvType = MapType(StringType, StringType)
    if (replayBytes(table, pl) <= driverMaxLogBytes) {
      lastReplayPath = "driver"
      val (candidates, meta) = replayDriver(spark, table, pl)
      val schema = tableSchemaOf(dir, meta)
      val pcs = partitionColsOf(meta)
      val phys = physMapping(schema, table, meta)
      val entries = spark.createDataFrame(
        candidates.map(f => Row(f.path, f.partitionValues, f.stats.orNull)).asJava,
        StructType(Seq(StructField("path", StringType),
          StructField("partitionValues", pvType),
          StructField("stats", StringType))))
      val kept = entries
        .filter(keepCond(col("stats"), schema, preds, phys) &&
          partCond(col("partitionValues"), pcs, schema, preds, phys))
        .select("path").collect().map(_.getString(0)).toSet
      (candidates.map(f => (f, kept(f.path))), meta)
    } else {
      lastReplayPath = "distributed"
      val (live, _, meta) = liveState(spark, table, pl)
      val schema = tableSchemaOf(dir, meta)
      val pcs = partitionColsOf(meta)
      val phys = physMapping(schema, table, meta)
      val flags = live.select(col("path"), col("partitionValues"), col("dv"),
        (keepCond(col("stats"), schema, preds, phys) &&
          partCond(col("partitionValues"), pcs, schema, preds, phys)).as("keep")).collect()
      (flags.toSeq.map(r =>
        (LiveFile(decodePath(r.getString(0)),
          Option(r.getMap[String, String](1))
            .map(_.toMap).getOrElse(Map.empty[String, String]), None,
          Option(r.getString(2))),
          r.getBoolean(3))),
        meta)
    }
  }

  def skipScan(spark: SparkSession, dir: String,
      preds: Seq[(String, Any, Any)]): DataFrame = {
    val table = Paths.get(dir)
    if (preds.isEmpty) {
      val latest = latestVersion(dir)
      return snapshotAt(spark, dir, latest)
    }
    val (flags, meta) = pruneFlags(spark, dir, preds)
    val surviving = flags.collect { case (f, true) => f }
    lastSkipScan = (flags.size.toLong, surviving.size.toLong)
    val base = readFiles(spark, table, surviving, meta)
    preds.foldLeft(base) { case (df, (c, lo, hi)) =>
      val withLo = Option(lo).map(v => df.filter(col(c) >= lit(v))).getOrElse(df)
      Option(hi).map(v => withLo.filter(col(c) <= lit(v))).getOrElse(withLo)
    }
  }

  // ------------------------------------------- deletion-vector writes

  /** Outcome of a [[deleteVectors]] commit. */
  final case class DvDeleteResult(version: Long, filesAffected: Long,
      filesSkipped: Long, rowsDeleted: Long)

  /** Row-level DELETE committed as DELETION VECTORS — the stock-Delta
    * representation: instead of rewriting files (what [[TxLog.deleteWhere]]
    * does on a table without DVs), each affected file is re-added with a
    * roaring bitmap of its now-hidden ordinal row indexes. The commit
    * cost is O(deleted rows) of bitmap METADATA plus one log entry —
    * the reason a 100 TB DELETE of a few rows is instant. Mechanics:
    *
    *  - candidate files prune on log stats exactly like [[skipScan]]
    *    (a file proved predicate-free is never scanned);
    *  - matched ordinal indexes are gathered per file and the bitmap
    *    SERIALIZED IN EXECUTORS (one task per file group, bounded by a
    *    file's row count) — only (path, bitmap bytes) reach the driver;
    *  - a file already carrying a DV gets the UNION of old and new
    *    (delete-on-delete), its descriptor's cardinality updated;
    *  - all bitmaps land in ONE `deletion_vector_<uuid>.bin` ("u"
    *    storage, stock naming) and the commit re-adds each affected
    *    file (remove + add of the same path, the spec's DV-update
    *    shape) keeping its partitionValues and stats;
    *  - the version is claimed put-if-absent ([[writeCommit]]); losing
    *    the race is a loud serialization failure like the TxLog rewrites.
    *
    * Works on Delta-log-only tables (foreign-style). NOT for TxLog-
    * mirrored tables: their commit point is the `_txlog` manifest (which
    * carries DVs as `#dv` lines), and a Delta-only commit would leave
    * the two logs diverged — mirrored tables delete via
    * [[TxLog.deleteWhere]], which writes deletion vectors when the table
    * has `delta.enableDeletionVectors=true`. The table's
    * protocol should already advertise the deletionVectors feature
    * (reader 3 / writer 7).
    */
  def deleteVectors(spark: SparkSession, dir: String, pred: Column,
      prune: Seq[(String, Any, Any)] = Seq.empty): DvDeleteResult = {
    val table = Paths.get(dir)
    require(!Files.isDirectory(table.resolve("_txlog")),
      s"$dir is TxLog-mirrored — use TxLog.deleteWhere, which writes " +
        "deletion vectors when delta.enableDeletionVectors=true (its " +
        "manifest is the commit point)")
    // warm from the checkpoint first: on a compacted-prefix table a cold
    // cache would read an EMPTY configuration here and let a DV delete
    // through on an appendOnly table — the silent-ungoverned case
    // warmMetaCache exists to prevent
    warmMetaCache(spark, table)
    if (tableConfig(table).get("delta.appendOnly").contains("true"))
      sys.error(s"$dir: delta.appendOnly=true — a DV delete removes " +
        "committed rows and is refused")
    val latest = latestVersion(dir)
    val (flags, meta) =
      if (prune.isEmpty) {
        val (files, m) = replay(spark, table, latest)
        (files.map(f => (f, true)), m)
      } else pruneFlags(spark, dir, prune)
    val candidates = flags.collect { case (f, true) => f }
    val skipped = (flags.size - candidates.size).toLong
    if (candidates.isEmpty) return DvDeleteResult(latest, 0L, skipped, 0L)
    val oldDv: Map[String, Array[Byte]] = candidates.flatMap(f =>
      f.dv.map(d => resolveDataPath(table, f.path).toAbsolutePath.toString ->
        DeletionVectors.readBytes(table, DeletionVectors.parseDescriptor(d))))
      .toMap
    val bcOld = spark.sparkContext.broadcast(oldDv)
    val mkDv = udf { (file: String, idxs: Seq[Long]) =>
      val abs = new java.net.URI(file).getPath
      val old = bcOld.value.get(abs)
        .map(b => DeletionVectors.parse(b).values.toSeq).getOrElse(Seq.empty)
      DeletionVectors.serialize((old ++ idxs).distinct)
    }
    val collected = readFilesRaw(spark, table, candidates, meta, withMeta = true)
      .filter(pred)
      .groupBy(col("__dv_file")).agg(collect_list(col("__dv_row")).as("idxs"))
      .select(col("__dv_file"),
        mkDv(col("__dv_file"), col("idxs")).as("dv"))
      .collect()
    if (collected.isEmpty) return DvDeleteResult(latest, 0L, skipped, 0L)
    val byAbs = candidates.map(f =>
      table.resolve(f.path).toAbsolutePath.toString -> f).toMap
    val affected: Seq[(LiveFile, Array[Byte])] = collected.toSeq.map { r =>
      val abs = new java.net.URI(r.getString(0)).getPath
      (byAbs(abs), r.getAs[Array[Byte]](1))
    }
    // one DV file for the whole commit, stock "u" naming
    val uuid = java.util.UUID.nameUUIDFromBytes(
      affected.flatMap(_._2).toArray)
    val offsets = DeletionVectors.writeDvFile(
      table.resolve(s"deletion_vector_$uuid.bin"), affected.map(_._2))
    val rowsDeleted = affected.map { case (f, bytes) =>
      DeletionVectors.parse(bytes).cardinality -
        f.dv.map(_ => DeletionVectors.parse(
          oldDv(table.resolve(f.path).toAbsolutePath.toString)).cardinality)
          .getOrElse(0L)
    }.sum
    val now = System.currentTimeMillis()
    val lines = commitInfo(now, "DELETE") +: affected.zip(offsets).flatMap {
      case ((f, bytes), off) =>
        val file = table.resolve(f.path)
        // the superseded DV rides the remove so VACUUM protects its file
        // through the retention era (old-version readers may need it);
        // stats are kept from the old add: row counts overcount deleted
        // rows, which only ever KEEPS files in a skip-scan — still sound
        Seq(remove(f.path, now, dataChange = true, f.dv),
          add(f.path, f.partitionValues, Files.size(file),
            Files.getLastModifiedTime(file).toMillis, dataChange = true, f.stats,
            Some(DeletionVectors.Descriptor.u(uuid, off, bytes.length,
              DeletionVectors.parse(bytes).cardinality).render)))
    }
    val next = latest + 1
    if (!writeCommit(table, next, lines))
      sys.error(s"$dir: concurrent commit at Delta version $next — " +
        "this DV delete read version " + latest + "; re-run against " +
        "the new snapshot")
    DvDeleteResult(next, affected.size.toLong, skipped, rowsDeleted)
  }

  /** Outcome of [[purgeVectors]]. */
  final case class DvPurgeResult(version: Long, filesRewritten: Long)

  /** REORG PURGE: materialize every DV-carrying live file into clean
    * files (visible rows only) and drop the vectors — the DV-lifecycle
    * closer. Delete fast as bitmaps ([[deleteVectors]]); purge once the
    * deleted fraction makes scans pay for masked rows; then [[vacuum]]
    * sweeps both the superseded data files and the orphaned bitmap
    * files. Commits remove(old, carrying its DV for retention
    * protection) + add(clean) with `dataChange=false` — no visible row
    * changed, so change feeds skip it, stock REORG's contract.
    * Unpartitioned tables (partitioned purge adds per-partition writes,
    * not new semantics).
    */
  def purgeVectors(spark: SparkSession, dir: String): DvPurgeResult = {
    val table = Paths.get(dir)
    require(!Files.isDirectory(table.resolve("_txlog")),
      s"$dir is TxLog-mirrored — its DVs go when TxLog.optimize rewrites their files")
    val latest = latestVersion(dir)
    val (files, meta) = replay(spark, table, latest)
    require(partitionColsOf(meta).isEmpty,
      s"$dir: purgeVectors supports unpartitioned tables")
    val dvFiles = files.filter(_.dv.isDefined)
    if (dvFiles.isEmpty) return DvPurgeResult(latest, 0L)
    val clean = readFiles(spark, table, dvFiles, meta) // DVs applied here
    val tmp = graft.Scratch.dir("graft_dv_purge")
    clean.write.mode("overwrite").parquet(tmp.toString)
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"purge:$dir:$latest".getBytes("UTF-8"))
    val added = listDir(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString).zipWithIndex.map { case (p, i) =>
        val rel = f"part-purge-$uuid-$i%05d.parquet"
        Files.move(p, table.resolve(rel))
        rel
      }
    val now = System.currentTimeMillis()
    val lines = commitInfo(now, "REORG") +:
      (dvFiles.map(f => remove(f.path, now, dataChange = false, f.dv)) ++
        added.map(addFile(table, _, dataChange = false)))
    val next = latest + 1
    if (!writeCommit(table, next, lines))
      sys.error(s"$dir: concurrent commit at Delta version $next — " +
        s"this purge read version $latest; re-run against the new snapshot")
    DvPurgeResult(next, dvFiles.size.toLong)
  }

  // ------------------------------------------------- changes & vacuum

  /** File-level change feed between two committed versions, for ANY
    * Delta table (foreign or mirrored): the files versions
    * `fromV+1..toV` ADDED that are still live at `toV`. For append-only
    * history this is exactly the new data, read as O(changed files) —
    * never a row-diff of two snapshots. (Full row-level CDF with
    * update/delete images is Delta's `_change_data` feature, which needs
    * writer cooperation; the file-level feed is what incremental
    * consumers of append streams — silver refresh, IVM merges — use.)
    * Requires the JSON commits for the window (like `versionAsOf`,
    * this reads history, which checkpoints don't keep).
    */
  def changesBetween(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changesBetween: fromV $fromV > toV $toV")
    val table = Paths.get(dir)
    val have = versions(dir).toSet
    val need = (fromV + 1) to toV
    val missing = need.filterNot(have)
    if (missing.nonEmpty)
      sys.error(s"$dir: commit files for versions ${missing.mkString(",")} " +
        "are missing (aged out?) — the change feed needs the JSON history")
    val added = scala.collection.mutable.LinkedHashMap.empty[String, LiveFile]
    // dataChange=false actions (OPTIMIZE/compaction) are INVISIBLE to the
    // feed — stock Delta's contract: a compaction's adds carry no new rows
    // (skipping them prevents re-emitting the whole compacted set), and
    // its removes must NOT retract earlier real adds (the rows are still
    // the window's change; the original files stay readable until vacuum).
    def isDataChange(action: com.fasterxml.jackson.databind.JsonNode): Boolean =
      !action.has("dataChange") || action.get("dataChange").asBoolean(true)
    need.foreach { v =>
      // removes before adds within a version: a DV-update commit carries
      // remove+add of the same path, and the re-add (with its new DV) is
      // the state the feed should surface — file line order is not load-
      // bearing, same reconciliation as snapshot replay
      val nodes = Files.readAllLines(commitPath(table, v)).asScala
        .filter(_.trim.nonEmpty).map(mapper.readTree)
      nodes.foreach { node =>
        if (node.has("remove") && isDataChange(node.get("remove")))
          added -= decodePath(node.get("remove").get("path").asText())
      }
      nodes.foreach { node =>
        if (node.has("add") && isDataChange(node.get("add"))) {
          val a = node.get("add")
          val p = decodePath(a.get("path").asText())
          val pv = Option(a.get("partitionValues")).map(_.fields().asScala
            .map(e => e.getKey ->
              (if (e.getValue.isNull) null else e.getValue.asText())).toMap)
            .getOrElse(Map.empty[String, String])
          val dv = Option(a.get("deletionVector")).filterNot(_.isNull)
            .map(mapper.writeValueAsString)
          added += p -> LiveFile(p, pv, None, dv)
        }
      }
    }
    // read through readFiles so partitioned tables get their partition
    // columns reattached (added data files don't contain them), and the
    // empty-window feed carries the same metaData schema as a non-empty
    // one instead of a limit(0) of the snapshot
    val (_, meta) = replay(spark, table, toV)
    readFiles(spark, table, added.values.toSeq, meta)
  }

  /** Delta-protocol VACUUM: physically delete data files that are
    * neither live in the CURRENT snapshot nor protected — tombstoned
    * younger than `retentionMs` (stock Delta's
    * `deletedFileRetentionDuration` contract: readers of recent
    * versions may still hold those paths) or modified younger than
    * `retentionMs` (an in-flight writer's staged files look identical
    * to orphans). Returns (deleted, retained-live). Time travel to
    * overwritten-away versions stops working past the retention window,
    * exactly like stock VACUUM. Works on any unpartitioned-or-
    * partitioned table this engine can replay; only files under the
    * table root are candidates (Delta forbids external absolute-path
    * adds for self-written tables).
    */
  def vacuum(spark: SparkSession, dir: String,
      retentionMs: Long = tombstoneRetentionMs): (Long, Long) = {
    val table = Paths.get(dir)
    val latest = latestVersion(dir)
    val pl = replayPlan(table, latest)
    val (live, tombstones, _) = liveState(spark, table, pl)
    val collected = live.select("path", "dv").collect()
    val keep = collected.map(r => decodePath(r.getString(0))).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    def dvPath(descJson: String): Option[Path] = {
      val desc = DeletionVectors.parseDescriptor(descJson)
      desc.storageType match {
        case "u" => Some(DeletionVectors.uPath(table, desc.pathOrInlineDv))
        case "p" => Some(java.nio.file.Paths.get(desc.pathOrInlineDv))
        case _ => None // inline: nothing on disk
      }
    }
    // deletion-vector files referenced by a LIVE add — or by a remove
    // still inside the tombstone retention era (stock removes carry the
    // superseded DV for exactly this) — are protected; everything else
    // named deletion_vector_*.bin under the root is an orphan once past
    // retention. Stock VACUUM sweeps these too.
    val protectedDvJson = tombstones
      .filter(col("deletionTimestamp").isNull ||
        col("deletionTimestamp") >= cutoff)
      .select("rdv").collect().flatMap(r => Option(r.getString(0)))
    val keepDv: Set[Path] =
      (collected.flatMap(r => Option(r.getString(1))) ++ protectedDvJson)
        .flatMap(dvPath(_)).map(_.toAbsolutePath).toSet
    // the retention contract protects RECENTLY-TOMBSTONED files even when
    // the files themselves are old: a reader of the pre-overwrite snapshot
    // may still hold their paths for deletedFileRetentionDuration. A null
    // deletionTimestamp (spec-optional) is protected too — age unknown.
    val protectedTombstones = tombstones
      .filter(col("deletionTimestamp").isNull ||
        col("deletionTimestamp") >= cutoff)
      .select("path").collect()
      .map(r => decodePath(r.getString(0))).toSet
    var deleted = 0L
    def walk(p: Path): Unit = listDir(p).foreach { f =>
      val name = f.getFileName.toString
      if (Files.isDirectory(f)) {
        if (name != "_delta_log" && name != "_txlog") {
          walk(f)
          // prune directories a sweep emptied (hive partition dirs of
          // fully-overwritten partitions)
          if (listDir(f).isEmpty) Files.delete(f)
        }
      } else if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")) {
        val rel = table.relativize(f).toString
        if (!keep(rel) && !protectedTombstones(rel) &&
            Files.getLastModifiedTime(f).toMillis <= cutoff) {
          Files.delete(f)
          // a parquet's .crc sidecar must go with it, or the sweep can
          // never empty a partition directory (Spark's local-FS writer
          // leaves one per part file)
          Files.deleteIfExists(f.resolveSibling("." + name + ".crc"))
          deleted += 1
        }
      } else if (name.startsWith("deletion_vector_") && name.endsWith(".bin")) {
        if (!keepDv(f.toAbsolutePath) &&
            Files.getLastModifiedTime(f).toMillis <= cutoff) {
          Files.delete(f)
          deleted += 1
        }
      }
    }
    walk(table)
    (deleted, keep.size.toLong)
  }

  /** Metadata-only column RENAME — the operation column mapping exists
    * for. A table still on mode "none" is UPGRADED in the same commit:
    * every field gains a mapping id and a physicalName equal to its
    * CURRENT on-disk name, so existing data files resolve unchanged and
    * ZERO bytes of data are rewritten — the reason a 100 TB rename is
    * instant. The renamed field changes only its logical name; stats
    * and partitionValues stay keyed by the (unchanged) physical names,
    * so skip-scans on the new name keep pruning. Time travel keeps
    * history honest: metaData replays versioned, so a snapshot at a
    * pre-rename version still shows the old logical schema.
    *
    * Delta-only tables (foreign-style): a TxLog mirror's manifest knows
    * nothing of logical renames, so the two logs would diverge —
    * mirrored tables refuse loudly. Top-level columns (nested renames
    * add path-addressing, not new semantics). The version is claimed
    * put-if-absent like every other writer here.
    */
  def renameColumn(spark: SparkSession, dir: String,
      oldName: String, newName: String): Long =
    commitSchemaChange(spark, dir, "RENAME COLUMN",
      Seq("oldName" -> oldName, "newName" -> newName),
      upgradeMapping = true) { (schema, pcs) =>
      require(schema.fieldNames.contains(oldName),
        s"$dir: no column '$oldName' to rename")
      require(!schema.fieldNames.contains(newName),
        s"$dir: column '$newName' already exists")
      require(!oldName.contains(".") && !newName.contains("."),
        "renameColumn addresses top-level columns")
      (StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f)),
        pcs.map(c => if (c == oldName) newName else c))
    }

  /** Metadata-only ADD COLUMN: one metaData commit appending a NULLABLE
    * field — pre-evolution files simply null-fill it (snapshot reads
    * are typed by the metaData schema, the Delta reader requirement).
    * On an already-mapped table the new field gets the next mapping id
    * and a fresh `col-<uuid>` physical name (stock delta-spark's
    * assignment); an unmapped table STAYS unmapped — addition alone
    * doesn't need the mapping indirection.
    */
  def addColumn(spark: SparkSession, dir: String,
      name: String, dataType: DataType): Long =
    commitSchemaChange(spark, dir, "ADD COLUMN",
      Seq("column" -> name, "type" -> dataType.simpleString),
      upgradeMapping = false) { (schema, pcs) =>
      require(!schema.fieldNames.contains(name),
        s"$dir: column '$name' already exists")
      require(!name.contains("."), "addColumn addresses top-level columns")
      val field =
        if (schema.fields.exists(_.metadata.contains(MapIdKey))) {
          val nextId = schema.fields
            .map(f => if (f.metadata.contains(MapIdKey)) f.metadata.getLong(MapIdKey) else 0L)
            .max + 1L
          StructField(name, dataType, nullable = true,
            new MetadataBuilder().putLong(MapIdKey, nextId)
              .putString(PhysNameKey, s"col-${java.util.UUID.randomUUID()}")
              .build())
        } else StructField(name, dataType, nullable = true)
      (StructType(schema.fields :+ field), pcs)
    }

  /** Metadata-only DROP COLUMN: requires column mapping (stock Delta's
    * rule — without the indirection a re-added column of the same name
    * would resurrect the old bytes), so an unmapped table upgrades in
    * the same commit. The data stays in the files; reads project it
    * away, and a later re-add under a FRESH physical name can never
    * see it. Partition columns refuse (their values live in the log
    * layout).
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Long =
    commitSchemaChange(spark, dir, "DROP COLUMN", Seq("column" -> name),
      upgradeMapping = true) { (schema, pcs) =>
      require(schema.fieldNames.contains(name), s"$dir: no column '$name' to drop")
      require(!pcs.contains(name), s"$dir: cannot drop partition column '$name'")
      require(schema.size > 1, s"$dir: cannot drop the only column")
      (StructType(schema.fields.filterNot(_.name == name)), pcs)
    }

  /** SHALLOW CLONE: a new table whose log REFERENCES the source's data
    * files by absolute path — zero data bytes copied, the reason a dev/
    * test snapshot of a 100 TB table materializes in milliseconds.
    * Optionally at a historical `version` (time-travel clone). The
    * clone's commit 0 copies the source's protocol gate, its metaData
    * (schema / partitionColumns / configuration — mapping metadata and
    * constraints survive) under a NEW table id, and one add per live
    * file with the log-carried size/mtime/stats (skip-scans keep
    * pruning on the clone). Deletion vectors survive too: "u"
    * descriptors — relative to the SOURCE root — rewrite to absolute
    * "p" form, so the clone hides exactly the same rows.
    *
    * The clone is independent from its first commit on: appends land
    * under the clone root, deletes tombstone the referenced files
    * without touching the source, and VACUUM walks only the clone's
    * own directory — it can never delete source data. (Collection is
    * O(live files) on the driver — the same handoff any snapshot read
    * makes, and what stock CLONE does.)
    */
  def shallowClone(spark: SparkSession, src: String, dst: String,
      version: Option[Long] = None): Long = {
    val srcT = Paths.get(src)
    val dstT = Paths.get(dst)
    require(!Files.isDirectory(logDir(dstT)), s"$dst: already a Delta table")
    val v = version.getOrElse(latestVersion(src))
    val pl = replayPlan(srcT, v)
    protocolGuard(spark, srcT, pl)
    val (live, _, metaOpt) = liveState(spark, srcT, pl)
    val m = metaOpt.getOrElse(sys.error(s"$src: no metaData action in log"))
    val rows = live.select(col("path"), col("partitionValues"), col("size"),
      col("modificationTime"), col("stats"), col("dv"),
      col("baseRowId"), col("defaultRowCommitVersion")).collect()
    val now = System.currentTimeMillis()
    def features(p: com.fasterxml.jackson.databind.JsonNode, k: String) =
      Option(p.get(k)).map(_.asScala.map(_.asText()).toSeq)
    // protocol: the source's newest gate verbatim — tail OR checkpoint
    // (a compacted DV-bearing source must not clone with a fabricated
    // 1/2 gate that would let readers ignore the descriptors); base 1/2
    // only when the source genuinely predates protocol actions
    val protocolLine = newestProtocolNode(spark, srcT, pl).map(p => protocol(
      Option(p.get("minReaderVersion")).map(_.asInt()).getOrElse(1),
      Option(p.get("minWriterVersion")).map(_.asInt()).getOrElse(2),
      features(p, "readerFeatures"), features(p, "writerFeatures")))
      .getOrElse(protocol(1, 2))
    val metaData = metaDataNode(dstT, m.get("schemaString").asText(),
      java.util.UUID.randomUUID().toString, now,
      partitionCols = partitionColsOf(Some(m)), configuration = cfgPairs(m))
    // live domain metadata clones too — losing delta.rowTracking's
    // high-water mark would let a clone-side writer reissue spent ids,
    // and the cloned adds below keep their baseRowId, so the clone's
    // row ids equal the source's
    val domains = domainMetadataMap(spark, src, Some(v)).toSeq.sortBy(_._1)
      .map { case (d, cfgJson) => domainMetadata(d, cfgJson) }
    val adds = rows.toSeq.map { r =>
      val abs = resolveDataPath(srcT, decodePath(r.getString(0))).toAbsolutePath
      // u-style DV paths resolve against the TABLE root — which is now
      // the clone's; pin the bitmap file absolutely instead
      val dv = Option(r.getString(5)).map(DeletionVectors.parseDescriptor).map(d =>
        if (d.storageType != "u") d
        else d.copy(storageType = "p", pathOrInlineDv =
          DeletionVectors.uPath(srcT, d.pathOrInlineDv).toAbsolutePath.toString))
      def opt(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      // row-tracking fields ride the cloned add: same file, same ids
      add(abs.toString, Option(r.getMap[String, String](1)).getOrElse(Map.empty),
        opt(2).getOrElse(Files.size(abs)),
        opt(3).getOrElse(Files.getLastModifiedTime(abs).toMillis),
        dataChange = true, Option(r.getString(4)), dv.map(_.render), opt(6), opt(7))
    }
    val lines = Seq(protocolLine, mapper.writeValueAsString(metaData),
      commitInfo(now, "CLONE", Some(Seq("source" -> src, "sourceVersion" -> v)))) ++
      domains ++ adds
    if (!writeCommit(dstT, 0L, lines)) sys.error(s"$dst: concurrent clone created version 0")
    0L
  }

  /** Metadata-only SET TBLPROPERTIES on a Delta-only table — one
    * metaData commit with the merged configuration (mirrored tables set
    * properties through [[TxLog.setTableProperties]], which keeps the
    * manifest↔Delta version mapping 1:1). Installs the writer-protocol
    * guards: `delta.constraints.<name>` CHECK expressions and
    * `delta.appendOnly`.
    */
  def setTableProperties(spark: SparkSession, dir: String,
      props: Map[String, String]): Long =
    commitSchemaChange(spark, dir, "SET TBLPROPERTIES", props.toSeq.sorted,
      upgradeMapping = false, props = props.toSeq)((s, p) => (s, p))

  /** Shared scaffold of the metadata-only schema evolutions: resolve
    * the newest metaData, optionally perform the column-mapping
    * upgrade (pin ids + physicalName = current on-disk names — the
    * reason existing files keep resolving), apply `evolve` to
    * (logical schema, partitionColumns), and claim `latest + 1` with
    * one protocol?+metaData+commitInfo commit. Zero data bytes move
    * in any of them — the reason ALTER TABLE on a 100 TB table is
    * instant. Delta-only tables: a TxLog mirror's manifest cannot
    * represent logical schema changes, so mirrored tables refuse.
    */
  private def commitSchemaChange(spark: SparkSession, dir: String,
      operation: String, params: Seq[(String, String)],
      upgradeMapping: Boolean, props: Seq[(String, String)] = Seq.empty)(
      evolve: (StructType, Seq[String]) => (StructType, Seq[String])): Long = {
    val table = Paths.get(dir)
    require(!Files.isDirectory(table.resolve("_txlog")),
      s"$dir is TxLog-mirrored — the manifest cannot represent logical schema evolution")
    val latest = latestVersion(dir)
    val (_, metaOpt) = replay(spark, table, latest)
    val m = metaOpt.getOrElse(sys.error(s"$dir: no metaData action in log"))
    val schema0 = DataType.fromJson(m.get("schemaString").asText())
      .asInstanceOf[StructType]
    val alreadyMapped = mappingMode(metaOpt) != "none"
    val doUpgrade = upgradeMapping && !alreadyMapped
    val base =
      if (!doUpgrade) schema0
      else StructType(schema0.fields.zipWithIndex.map { case (f, i) =>
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        if (!f.metadata.contains(MapIdKey)) mb.putLong(MapIdKey, i + 1L)
        if (!f.metadata.contains(PhysNameKey)) mb.putString(PhysNameKey, f.name)
        f.copy(metadata = mb.build())
      })
    val (evolved, pcs) = evolve(base, partitionColsOf(metaOpt))
    val nowMapped = evolved.fields.exists(_.metadata.contains(MapIdKey))
    // an id-mode table STAYS id-mode (its files are resolved by field
    // ids, not physicalName — flipping the mode would misread them);
    // only an unmapped table upgrading here gets "name"
    val mapping =
      if (!nowMapped) Nil
      else Seq("delta.columnMapping.mode" -> cfgPairs(m).toMap
          .get("delta.columnMapping.mode").filterNot(_ == "none").getOrElse("name"),
        "delta.columnMapping.maxColumnId" -> evolved.fields
          .map(f => if (f.metadata.contains(MapIdKey)) f.metadata.getLong(MapIdKey) else 0L)
          .max.toString)
    val metaData = metaDataNode(table, evolved.json,
      m.get("id").asText(),
      if (m.has("createdTime")) m.get("createdTime").asLong() else 0L,
      partitionCols = pcs, configuration = cfgPairs(m) ++ props ++ mapping)
    // the upgrade commit carries the protocol bump (legacy
    // column-mapping gate); an already-mapped table is already gated
    val lines = (if (doUpgrade) Seq(protocol(2, 5)) else Nil) ++
      Seq(mapper.writeValueAsString(metaData),
        commitInfo(System.currentTimeMillis(), operation, Some(params)))
    val next = latest + 1
    if (!writeCommit(table, next, lines))
      sys.error(s"$dir: concurrent commit at Delta version $next — " +
        s"this $operation read version $latest; re-run against the new snapshot")
    next
  }

  // ------------------------------------------------------ fixture/query

  // Delta-mirrored fixture table: two appends + one overwrite, read back
  // through the DELTA log (not the TxLog manifest) — proving a foreign
  // reader following only `_delta_log` sees exactly the committed state.
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Write `df` as the one parquet file `root/rel` (fixture staging). */
  private[graft] def landFile(df: DataFrame, root: Path, rel: String): Unit = {
    val tmp = graft.Scratch.dir("graft_land")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Files.move(listDir(tmp).filter(_.getFileName.toString.endsWith(".parquet")).head,
      root.resolve(rel))
  }

  /** The deletion-vector fixtures' gate: reader 3 / writer 7 with the
    * deletionVectors feature on both sides. */
  private def dvProtocol: String =
    protocol(3, 7, Some(Seq("deletionVectors")), Some(Seq("deletionVectors")))

  private def deltaTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(dir, {
      val table = graft.Scratch.dir("graft_delta").toString
      val ev = graft.Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 0), table)
      TxLog.commitOverwrite(ev.filter(pmod(col("event_id"), lit(3)) === 1), table)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 2), table)
      table
    })

  // Skip-scan fixture: three appends with DISJOINT event_id ranges, the
  // layout a time/id-clustered ingest produces — so the range predicate
  // below genuinely proves files pruned, not just a filter applied.
  private def deltaRangedTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"ranged:$dir", {
      val table = graft.Scratch.dir("graft_delta_skip").toString
      val ev = graft.Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(col("event_id") < 400), table)
      TxLog.commitAppend(ev.filter(col("event_id").between(400, 799)), table)
      TxLog.commitAppend(ev.filter(col("event_id") >= 800), table)
      table
    })

  /** Foreign-style PARTITIONED table: events bucketed by
    * `pmod(user_id, 3)`, written hive-style the way stock delta-spark
    * lays tables out, with a hand-authored `_delta_log` — metaData
    * carrying `partitionColumns`, each add carrying its `partitionValues`
    * and footer stats. No `_txlog` at all: this is the
    * foreign-partitioned-table read path end to end.
    */
  private[graft] def deltaPartitionedTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"part:$dir", {
      val table = graft.Scratch.dir("graft_delta_part").toString
      val ev = graft.Tables.events(spark, dir)
        .withColumn("bucket", pmod(col("user_id"), lit(3)))
      ev.write.mode("overwrite").partitionBy("bucket").parquet(table)
      val root = Paths.get(table)
      val files = listDir(root)
        .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("bucket="))
        .sortBy(_.getFileName.toString)
        .flatMap { d =>
          listDir(d).filter(_.getFileName.toString.endsWith(".parquet"))
            .sortBy(_.getFileName.toString)
            .map(f => (d.getFileName.toString.stripPrefix("bucket="),
              s"${d.getFileName}/${f.getFileName}"))
        }
      require(writeCommit(root, 0L, Seq(protocol(1, 2),
        mapper.writeValueAsString(metaDataNode(root, ev.schema.json, stableTableId(root),
          1L, partitionCols = Seq("bucket")))) ++
        files.map { case (bucket, rel) =>
          addFile(root, rel, partitionValues = Seq("bucket" -> bucket))
        }))
      table
    })

  // Vacuum fixture: append, overwrite, then Delta-protocol vacuum — the
  // overwritten-away files are physically deleted from tombstones alone.
  private def deltaVacuumedTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"vac:$dir", {
      val table = graft.Scratch.dir("graft_delta_vac").toString
      val ev = graft.Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 0), table)
      TxLog.commitOverwrite(ev.filter(pmod(col("event_id"), lit(3)) === 1), table)
      vacuum(spark, table, retentionMs = 0L) // single-writer fixture: no in-flight committers
      table
    })

  // Write-side partitioned fixture: TxLog commits WITH partitionBy — the
  // mirror derives partitionValues from the hive segments, closing the
  // loop: partitioned transactional write → Delta log → pruned read.
  private def txPartitionedTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"txpart:$dir", {
      val table = graft.Scratch.dir("graft_txlog_part").toString
      val ev = graft.Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        table, partitionBy = Seq("event_type"))
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        table, partitionBy = Seq("event_type"))
      table
    })

  /** Deterministic physical name for a logical column in the mapping
    * fixtures — shaped like delta-spark's `col-<uuid>` so nothing can
    * accidentally resolve by logical name. */
  private[graft] def physFixtureName(logical: String): String =
    "col-" + java.security.MessageDigest.getInstance("MD5")
      .digest(logical.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** Logical events schema with the column-mapping metadata attached
    * (ids 1..n + the fixture physical names) — what an upgraded
    * delta-spark table's schemaString looks like. */
  private def mappedSchema(logical: StructType): StructType =
    StructType(logical.fields.zipWithIndex.map { case (f, i) =>
      StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder().putLong(MapIdKey, i + 1L)
          .putString(PhysNameKey, physFixtureName(f.name)).build())
    })

  /** Foreign-style COLUMN-MAPPED table (mode "name", what delta-spark
    * writes after a column-mapping upgrade): parquet files carry
    * `col-<hash>` physical names, the hive layout partitions on the
    * PHYSICAL bucket column, `add.partitionValues` and the per-file
    * stats are keyed by physical name, and only schemaString knows the
    * logical names. Protocol gate: minReaderVersion 2 /
    * minWriterVersion 5 — the legacy column-mapping versions.
    */
  private[graft] def deltaColMapTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"cmap:$dir", {
      val table = graft.Scratch.dir("graft_delta_cmap").toString
      val root = Paths.get(table)
      val ev = graft.Tables.events(spark, dir)
        .withColumn("bucket", pmod(col("user_id"), lit(3)))
      val physBucket = physFixtureName("bucket")
      ev.select(ev.schema.fieldNames.toSeq.map(n =>
          col(n).as(physFixtureName(n))): _*)
        .write.mode("overwrite").partitionBy(physBucket).parquet(table)
      val files = listDir(root)
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith(s"$physBucket="))
        .sortBy(_.getFileName.toString)
        .flatMap { d =>
          listDir(d).filter(_.getFileName.toString.endsWith(".parquet"))
            .sortBy(_.getFileName.toString)
            .map(f => (d.getFileName.toString.stripPrefix(s"$physBucket="),
              s"${d.getFileName}/${f.getFileName}"))
        }
      require(writeCommit(root, 0L, Seq(protocol(2, 5),
        mapper.writeValueAsString(metaDataNode(root, mappedSchema(ev.schema).json,
          stableTableId(root), 1L, partitionCols = Seq("bucket"),
          configuration = Seq("delta.columnMapping.mode" -> "name",
            "delta.columnMapping.maxColumnId" -> ev.schema.size.toString)))) ++
        files.map { case (bucket, rel) =>
          addFile(root, rel, partitionValues = Seq(physBucket -> bucket))
        }))
      table
    })

  /** Foreign-style table evolved by metadata-only RENAME: three
    * range-disjoint band files authored under a plain v0 log, then two
    * renames — `value→price` performs the column-mapping upgrade,
    * `event_id→event_no` exercises the already-mapped path. No data
    * file is touched after the initial write (spec-asserted), yet
    * reads resolve the new logical names AND skip-scans on them still
    * prune via the physical-keyed stats.
    */
  private[graft] def deltaRenamedTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"rename:$dir", {
      val table = graft.Scratch.dir("graft_delta_rename").toString
      val root = Paths.get(table)
      val ev = graft.Tables.events(spark, dir)
      val bands: Seq[org.apache.spark.sql.Column] = Seq(
        col("event_id") < 400,
        col("event_id").between(400, 799),
        col("event_id") >= 800)
      val rels = bands.zipWithIndex.map { case (pred, i) =>
        val rel = f"band-$i%02d.parquet"
        landFile(ev.filter(pred), root, rel)
        rel
      }
      require(writeCommit(root, 0L, Seq(protocol(1, 2), mapper.writeValueAsString(
        metaDataNode(root, ev.schema.json, stableTableId(root), 1L))) ++
        rels.map(addFile(root, _))))
      renameColumn(spark, table, "value", "price")
      renameColumn(spark, table, "event_id", "event_no")
      table
    })

  /** Foreign-style table evolved by the full ALTER surface: a
    * pre-evolution band under the original schema, `addColumn(tier)`
    * (table still unmapped — added columns alone need no mapping), a
    * post-ADD append whose file carries the new column, then
    * `dropColumn(props)` which performs the mapping upgrade. The final
    * snapshot must null-fill `tier` for the old band, read it for the
    * new one, and project `props` away from BOTH files' bytes.
    */
  private[graft] def deltaEvolvedTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"evolve:$dir", {
      val table = graft.Scratch.dir("graft_delta_evolve").toString
      val root = Paths.get(table)
      val ev = graft.Tables.events(spark, dir)
      // v0: pre-evolution band, original schema
      landFile(ev.filter(col("event_id") < 500), root, "band-00.parquet")
      require(writeCommit(root, 0L, Seq(protocol(1, 2), mapper.writeValueAsString(
          metaDataNode(root, ev.schema.json, stableTableId(root), 1L)),
        addFile(root, "band-00.parquet"))))
      // v1: ADD COLUMN tier (nullable; table stays unmapped)
      addColumn(spark, table, "tier", StringType)
      // v2: append a band that CARRIES the new column
      landFile(ev.filter(col("event_id") >= 500).withColumn("tier",
        when(col("value") > 50, "hi").otherwise("lo")), root, "band-01.parquet")
      require(writeCommit(root, 2L, Seq(addFile(root, "band-01.parquet"))))
      // v3: DROP COLUMN props (upgrades to column mapping)
      dropColumn(spark, table, "props")
      table
    })

  def prepare(spark: SparkSession, dir: String): Unit = {
    deltaTable(spark, dir)
    deltaRangedTable(spark, dir)
    deltaPartitionedTable(spark, dir)
    deltaVacuumedTable(spark, dir)
    txPartitionedTable(spark, dir)
    deltaColMapTable(spark, dir)
    deltaRenamedTable(spark, dir)
    deltaEvolvedTable(spark, dir)
    clonedTable(spark, dir)
    deltaDvTable(spark, dir)
    deltaDvWriteTable(spark, dir)
    // the v2-checkpoint fixture pays three full-corpus commits + a v2
    // checkpoint write on first touch — staged here so the bench's
    // first timed rep measures the READ, not the staging (round-10's
    // 19 s driver outlier vs the 0.52 s steady-state median)
    v2CheckpointTable(spark, dir)
    ()
  }

  /** Oracle-checked query: replaying `_delta_log` (append, overwrite,
    * append) must yield exactly the last two thirds of the corpus — the
    * overwrite's `remove` actions really cancel the first append's `add`s.
    */
  def snapshotQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, deltaTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val snapshotQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id % 3 >= 1
      |GROUP BY 1""".stripMargin

  /** Oracle-checked data-skipping query: the range predicate covers only
    * the middle commit's event_id band, so the scan must prune the other
    * commits' files from the log stats alone — and still aggregate to
    * exactly the oracle's filtered answer.
    */
  def skippingQuery(spark: SparkSession, dir: String): DataFrame =
    skipScan(spark, deltaRangedTable(spark, dir), Seq(("event_id", 450L, 700L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val skippingQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id BETWEEN 450 AND 700
      |GROUP BY 1""".stripMargin

  /** Oracle-checked partitioned read: partition pruning (bucket = 1,
    * from `add.partitionValues`) composed with stats skipping
    * (event_id ≤ 800, from `add.stats`) over a foreign hive-layout
    * table — the reattached partition column must aggregate exactly
    * like the oracle's derived expression.
    */
  def partitionedQuery(spark: SparkSession, dir: String): DataFrame =
    skipScan(spark, deltaPartitionedTable(spark, dir),
      Seq(("bucket", 1L, 1L), ("event_id", null, 800L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val partitionedQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE user_id % 3 = 1 AND event_id <= 800
      |GROUP BY 1""".stripMargin

  /** Oracle-checked Delta change feed: on the append/overwrite/append
    * fixture, the v1→v2 feed is exactly the third slice's files — the
    * overwrite's survivors must NOT reappear as changes.
    */
  def changesQuery(spark: SparkSession, dir: String): DataFrame =
    changesBetween(spark, deltaTable(spark, dir), 1L, 2L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val changesQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id % 3 = 2
      |GROUP BY 1""".stripMargin

  /** Oracle-checked Delta VACUUM: after append → overwrite → vacuum, a
    * RAW recursive glob of the table (the reference dashboard's unsafe
    * read, `dashboard.py:29-31`) must equal the retained snapshot —
    * only physical deletion of the tombstoned files can make that true.
    */
  def vacuumQuery(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("recursiveFileLookup", "true").option("pathGlobFilter", "*.parquet")
      .parquet(deltaVacuumedTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val vacuumQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id % 3 = 1
      |GROUP BY 1""".stripMargin

  /** Oracle-checked partitioned WRITE: two TxLog commits with
    * `partitionBy("event_type")`, read back through the Delta mirror
    * with a partition-range predicate — the mirror's path-derived
    * partitionValues must prune and the reattached column must
    * aggregate exactly.
    */
  def txPartitionedQuery(spark: SparkSession, dir: String): DataFrame =
    skipScan(spark, txPartitionedTable(spark, dir), Seq(("event_type", "a", "m")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val txPartitionedQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_type BETWEEN 'a' AND 'm'
      |GROUP BY 1""".stripMargin

  /** Foreign-style table with DELETION VECTORS: three data files, each
    * with a DV hiding its `event_id % 7 == 0` rows — one inline ("i"),
    * one UUID-file ("u"), one absolute-path ("p"), covering every
    * storageType the protocol defines in a single table, with the
    * spec's reader/writer feature gates in the protocol action. No
    * `_txlog`: this is the stock-delta-written-table read path.
    */
  private[graft] def deltaDvTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"dv:$dir", {
      val table = graft.Scratch.dir("graft_delta_dv").toString
      val root = Paths.get(table)
      val ev = graft.Tables.events(spark, dir)
      val rels = (0 until 3).map { i =>
        val rel = f"part-$i%05d.parquet"
        landFile(ev.filter(pmod(col("event_id"), lit(3)) === i), root, rel)
        rel
      }
      // per-file ordinal row indexes of the to-delete rows (fixture-scale)
      val deletedIdx: Seq[Seq[Long]] = rels.map { rel =>
        spark.read.parquet(root.resolve(rel).toString)
          .select(col("_metadata.row_index"), col("event_id"))
          .filter(pmod(col("event_id"), lit(7)) === 0)
          .collect().map(_.getLong(0)).toSeq.sorted
      }
      val bitmaps = deletedIdx.map(DeletionVectors.serialize)
      // "i": inline Z85 payload
      val descI = DeletionVectors.Descriptor("i", DeletionVectors.z85Encode(bitmaps(0)),
        None, bitmaps(0).length, deletedIdx(0).size.toLong)
      // "u": UUID-derived file under the table root
      val descU = {
        val uuid = java.util.UUID.nameUUIDFromBytes(
          "graft-dv-fixture".getBytes("UTF-8"))
        val off = DeletionVectors.writeDvFile(
          root.resolve(s"deletion_vector_$uuid.bin"), Seq(bitmaps(1))).head
        DeletionVectors.Descriptor.u(uuid, off, bitmaps(1).length, deletedIdx(1).size.toLong)
      }
      // "p": absolute path
      val descP = {
        val target = root.resolve("dv_absolute.bin")
        val off = DeletionVectors.writeDvFile(target, Seq(bitmaps(2))).head
        DeletionVectors.Descriptor("p", target.toAbsolutePath.toString, Some(off),
          bitmaps(2).length, deletedIdx(2).size.toLong)
      }
      require(writeCommit(root, 0L, Seq(dvProtocol, mapper.writeValueAsString(
        metaDataNode(root, ev.schema.json, stableTableId(root), 1L))) ++
        rels.zip(Seq(descI, descU, descP)).map { case (rel, desc) =>
          addFile(root, rel, deletionVector = Some(desc.render))
        }))
      table
    })

  /** Foreign-style plain table (no DVs yet) with DISJOINT event_id
    * bands per file — the [[deleteVectors]] fixture: two successive DV
    * deletes hit only the low band (stats-pruned), the second merging
    * into the first's bitmap.
    */
  private[graft] def deltaDvWriteTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"dvw:$dir", {
      val table = graft.Scratch.dir("graft_delta_dvw").toString
      val root = Paths.get(table)
      val ev = graft.Tables.events(spark, dir)
      val bands = Seq(
        ev.filter(col("event_id") < 400),
        ev.filter(col("event_id").between(400, 799)),
        ev.filter(col("event_id") >= 800))
      val rels = bands.zipWithIndex.map { case (b, i) =>
        val rel = f"part-$i%05d.parquet"
        landFile(b, root, rel)
        rel
      }
      require(writeCommit(root, 0L, Seq(dvProtocol, mapper.writeValueAsString(
        metaDataNode(root, ev.schema.json, stableTableId(root), 1L))) ++
        rels.map(addFile(root, _))))
      // two DV deletes in the low band: %7 first, then %5 (merges)
      deleteVectors(spark, table,
        pmod(col("event_id"), lit(7)) === 0 && col("event_id") <= 300,
        Seq(("event_id", null, java.lang.Long.valueOf(300L))))
      deleteVectors(spark, table,
        pmod(col("event_id"), lit(5)) === 0 && col("event_id") <= 300,
        Seq(("event_id", null, java.lang.Long.valueOf(300L))))
      table
    })

  /** Oracle-checked DV WRITE: after two bitmap deletes (the second
    * merged into the first file's DV) the snapshot must equal the
    * corpus minus both deleted bands — no data file was rewritten.
    */
  def dvWriteQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, deltaDvWriteTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val dvWriteQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |WHERE NOT ((event_id % 7 = 0 OR event_id % 5 = 0) AND event_id <= 300)
      |GROUP BY 1""".stripMargin

  /** Oracle-checked deletion-vector read: the snapshot must aggregate
    * to exactly the NOT-deleted rows — only correct Z85 + roaring
    * decode + per-row bitmap application across all three storage
    * types produces that.
    */
  def dvQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, deltaDvTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val dvQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id % 7 <> 0
      |GROUP BY 1""".stripMargin

  /** Oracle-checked FOREIGN batch DSv2 read: `spark.read.format
    * ("graft-txlog")` over the `_delta_log`-only DV fixture — the scan
    * derives versions, schema, and per-file deletion vectors from the
    * STOCK log alone ([[ForeignDeltaLog]] behind [[CommitLog]]) and
    * must hide all three DV storage types' rows. Shares [[dvQuery]]'s
    * oracle: the DSv2 path and the batch replay path must agree
    * row-for-row on a table neither engine wrote manifests for. */
  def foreignDsv2Query(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-txlog")
      .option("path", deltaDvTable(spark, dir)).load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  /** Oracle-checked COLUMN-MAPPED read: partition pruning (bucket = 1,
    * via physical-keyed `partitionValues`) composed with stats skipping
    * (event_id ≤ 800, via physical-keyed `stats`) over a mode="name"
    * table whose files know only `col-<hash>` columns — grouping by the
    * LOGICAL `event_type` can only work if the whole mapping chain
    * (schema relabel + stats translation + partition translation) does.
    */
  def colMapQuery(spark: SparkSession, dir: String): DataFrame =
    skipScan(spark, deltaColMapTable(spark, dir),
      Seq(("bucket", 1L, 1L), ("event_id", null, 800L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val colMapQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE user_id % 3 = 1 AND event_id <= 800
      |GROUP BY 1""".stripMargin

  /** Oracle-checked metadata-only RENAME: after two renames (one
    * upgrading to mapping, one on the already-mapped table), a
    * skip-scan ON THE NEW LOGICAL NAME must still prune band files via
    * the physical-keyed stats, and the aggregate must read through the
    * renamed columns exactly.
    */
  def renameQuery(spark: SparkSession, dir: String): DataFrame =
    skipScan(spark, deltaRenamedTable(spark, dir),
      Seq(("event_no", 450L, 700L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("total_price"))

  val renameQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_price
      |FROM events WHERE event_id BETWEEN 450 AND 700
      |GROUP BY 1""".stripMargin

  /** Oracle-checked ALTER surface: after ADD COLUMN + a post-ADD append
    * + DROP COLUMN, grouping by the added column must see nulls for the
    * pre-evolution band and real values for the new one — only
    * metaData-schema-typed reads across both file generations produce
    * that.
    */
  def evolutionQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, deltaEvolvedTable(spark, dir))
      .groupBy(coalesce(col("tier"), lit("old")).as("tier"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val evolutionQueryOracle: String =
    """SELECT CASE WHEN event_id >= 500
      |            THEN CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END
      |            ELSE 'old' END AS tier,
      |       count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |GROUP BY 1""".stripMargin

  /** Zero-copy clone of the range-disjoint fixture, then a pruned read
    * THROUGH the clone. */
  private def clonedTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"clone:$dir", {
      val dst = graft.Scratch.dir("graft_delta_clone").toString
      // Scratch.dir creates the (empty) directory; shallowClone only
      // refuses an existing _delta_log
      shallowClone(spark, deltaRangedTable(spark, dir), dst)
      dst
    })

  /** Oracle-checked SHALLOW CLONE: the skip-scan runs against the
    * CLONE — absolute-path adds, carried stats — and must prune and
    * aggregate exactly like the source would. Zero data files exist
    * under the clone root (spec-asserted).
    */
  def cloneQuery(spark: SparkSession, dir: String): DataFrame =
    skipScan(spark, clonedTable(spark, dir), Seq(("event_id", 450L, 700L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val cloneQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id BETWEEN 450 AND 700
      |GROUP BY 1""".stripMargin

  // V2-checkpoint round-trip fixture: three residue commits, a V2
  // (sidecar-layout) checkpoint at the head version, and the ENTIRE
  // JSON prefix aged out — the snapshot then reconstructs from the v2
  // top-level + sidecars alone.
  private def v2CheckpointTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"v2cp:$dir", {
      val table = graft.Scratch.dir("graft_delta_v2cp").toString
      val ev = graft.Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 0), table)
      TxLog.commitOverwrite(ev.filter(pmod(col("event_id"), lit(3)) === 1), table)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 2), table)
      checkpoint(spark, table, v2 = true)
      (0L to 2L).foreach(v => Files.deleteIfExists(
        Paths.get(table, "_delta_log", f"$v%020d.json")))
      resetMetaCache(Paths.get(table))
      table
    })

  /** Oracle-checked V2-checkpoint round-trip: with the JSON prefix
    * gone, only a correct sidecar-expanded replay (protocol gate
    * included — the checkpoint's own protocol advertises
    * `v2Checkpoints`) can reproduce the committed state.
    */
  def v2CheckpointQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, v2CheckpointTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val v2CheckpointQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id % 3 <> 0
      |GROUP BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_delta_v2checkpoint" -> v2CheckpointQuery _,
    "q_delta_clone" -> cloneQuery _,
    "q_delta_evolution" -> evolutionQuery _,
    "q_delta_rename" -> renameQuery _,
    "q_delta_colmap" -> colMapQuery _,
    "q_delta_snapshot" -> snapshotQuery _,
    "q_delta_skipping" -> skippingQuery _,
    "q_delta_partitioned" -> partitionedQuery _,
    "q_delta_changes" -> changesQuery _,
    "q_delta_vacuum" -> vacuumQuery _,
    "q_delta_dv" -> dvQuery _,
    "q_delta_foreign_dsv2" -> foreignDsv2Query _,
    "q_delta_dv_delete" -> dvWriteQuery _,
    "q_txlog_partitioned" -> txPartitionedQuery _
  )

  def oracles: Map[String, String] = Map(
    "q_delta_v2checkpoint" -> v2CheckpointQueryOracle,
    "q_delta_clone" -> cloneQueryOracle,
    "q_delta_evolution" -> evolutionQueryOracle,
    "q_delta_rename" -> renameQueryOracle,
    "q_delta_colmap" -> colMapQueryOracle,
    "q_delta_snapshot" -> snapshotQueryOracle,
    "q_delta_skipping" -> skippingQueryOracle,
    "q_delta_partitioned" -> partitionedQueryOracle,
    "q_delta_changes" -> changesQueryOracle,
    "q_delta_vacuum" -> vacuumQueryOracle,
    "q_delta_dv" -> dvQueryOracle,
    "q_delta_foreign_dsv2" -> dvQueryOracle,
    "q_delta_dv_delete" -> dvWriteQueryOracle,
    "q_txlog_partitioned" -> txPartitionedQueryOracle
  )
}
