package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Reader for the OTHER open table format a lakehouse engine meets in
  * the wild: Apache Iceberg (format spec v2 — iceberg.apache.org/spec),
  * the same external-interop role [[DeltaLog]] plays for Delta tables.
  * No Iceberg jars exist in this environment, so the log is parsed
  * from its primitives: the metadata JSON via jackson, the
  * manifest-list and manifest files via avro's GENERIC reader
  * (avro-core ships with Spark) — each avro file is self-describing,
  * and every field is accessed BY NAME from the embedded writer
  * schema, so files written by real Iceberg (whose records carry many
  * more fields than the subset consumed here) parse unchanged.
  *
  * Resolution chain, exactly the spec's:
  *  1. `metadata/version-hint.text` (or newest `v*.metadata.json`) →
  *     the current metadata file;
  *  2. `current-snapshot-id` → the snapshot entry → its
  *     `manifest-list` avro;
  *  3. manifest-list rows (`manifest_path`, `content`) → DATA
  *     manifests (content 0) and DELETE manifests (content 1): both
  *     POSITION and EQUALITY deletes apply at read via `_metadata`
  *     anti-joins under the spec's sequence-number rules
  *     ([[applyDeletes]]); malformed trees refuse loudly;
  *  4. manifest entries (`status`, `data_file`) → live data files:
  *     ADDED(1)/EXISTING(0) survive, DELETED(2) drop out.
  *
  * The scan is TYPED by the metadata's current schema (Iceberg field
  * types mapped to Spark's), so schema-evolved tables read correctly —
  * pre-evolution files null-fill new columns, exactly as the Delta
  * mirror read does. Time travel = resolving any retained
  * `snapshot-id` instead of the current one.
  *
  * Scale: metadata JSON + manifest-list + manifests are METADATA-SCALE
  * driver reads (the same O(manifests) any Iceberg planner pays);
  * the data read is one parquet scan over the live files — pruning
  * and projection belong to Catalyst. At millions of files the
  * manifest fan-out would move executor-side like the Delta
  * distributed replay; file counts here stay metadata-scale.
  */
object IcebergLog {

  private val mapper = new ObjectMapper()

  // ------------------------------------------------------------- read

  private def metadataDir(table: Path): Path = table.resolve("metadata")

  private def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** The current metadata JSON: version-hint if present (the file
    * Iceberg's HadoopCatalog maintains), else the highest-numbered
    * `v<N>.metadata.json`. */
  private[graft] def currentMetadataPath(table: Path): Path = {
    val hint = metadataDir(table).resolve("version-hint.text")
    if (Files.exists(hint)) {
      val v = Files.readString(hint).trim
      metadataDir(table).resolve(s"v$v.metadata.json")
    } else {
      listDir(metadataDir(table)).filter { p =>
        val n = p.getFileName.toString
        n.startsWith("v") && n.endsWith(".metadata.json") &&
          n.stripPrefix("v").stripSuffix(".metadata.json").forall(_.isDigit)
      }.sortBy(_.getFileName.toString
        .stripPrefix("v").stripSuffix(".metadata.json").toLong)
        .lastOption.getOrElse(
          sys.error(s"$table: no v*.metadata.json under metadata/"))
    }
  }

  /** Parsed-metadata LRU keyed by (metadata file path, mtime): the
    * rename probes ([[ForeignIcebergLog.fileFieldIdRead]]/
    * [[ForeignIcebergLog.fileFieldRename]]) consult the CURRENT
    * metadata on every plan of every micro-batch of a foreign tail —
    * uncached, that is one file read + JSON parse per plan. Metadata
    * files are written-once (a new table version is a NEW v*.json), so
    * (path, mtime) is a sound identity; superseded versions age out. */
  private val metadataCache =
    new ForeignIcebergLog.Lru[(String, Long), JsonNode](8)

  /** Number of cold parses performed (spec observability — a tailing
    * stream should parse each metadata version once, not per batch). */
  private[graft] val metadataParses = new java.util.concurrent.atomic.AtomicLong

  private[sources] def readMetadata(table: Path): JsonNode = {
    val p = currentMetadataPath(table)
    val key = (p.toAbsolutePath.toString, Files.getLastModifiedTime(p).toMillis)
    metadataCache.get(key) {
      metadataParses.incrementAndGet()
      mapper.readTree(Files.readString(p))
    }
  }

  /** Resolve a spec path (absolute URI, absolute path, or — in
    * golden-fixture trees — table-relative) to a filesystem path. */
  private[sources] def resolve(table: Path, p: String): Path = {
    if (p.startsWith("file:")) Paths.get(new java.net.URI(p))
    else if (p.startsWith("/")) Paths.get(p)
    else table.resolve(p)
  }

  /** All records of one avro file via the generic reader (the file's
    * own embedded writer schema). */
  private def avroRecords(p: Path): Seq[GenericRecord] = {
    val rd = new DataFileReader[GenericRecord](p.toFile,
      new GenericDatumReader[GenericRecord]())
    try rd.iterator().asScala.toSeq finally rd.close()
  }

  private def str(r: GenericRecord, f: String): String =
    Option(r.get(f)).map(_.toString).getOrElse(
      sys.error(s"avro record lacks required field '$f'"))

  private def int(r: GenericRecord, f: String, dflt: Int = 0): Int =
    Option(r.get(f)).map(_.asInstanceOf[Number].intValue).getOrElse(dflt)

  /** One live data file as the manifests describe it: resolved path
    * plus the per-file COLUMN BOUNDS (field id → spec
    * single-value-serialized bytes) the skip-scan prunes on. */
  private[graft] final case class IceFile(path: Path,
      lowerBounds: Map[Int, Array[Byte]], upperBounds: Map[Int, Array[Byte]],
      seq: Long = 0L, partition: Map[String, String] = Map.empty)

  /** The entry's `partition` tuple (identity transforms), stringified
    * per field — absent on unpartitioned tables and older writers.
    * Values cast back to the schema's declared types at attach time
    * ([[applyDeletes]]), so the stringly intermediate never leaks. */
  private def partitionOf(df: GenericRecord): Map[String, String] =
    Option(df.getSchema.getField("partition"))
      .flatMap(_ => Option(df.get("partition"))) match {
      case Some(pr: GenericRecord) =>
        pr.getSchema.getFields.asScala.flatMap(f =>
          Option(pr.get(f.name)).map(v => f.name -> v.toString)).toMap
      case _ => Map.empty
    }

  /** Iceberg stores bounds as a logical map encoded the avro way: an
    * ARRAY of {key, value} records. Read by field name, tolerant of
    * absence (older writers) — no bounds just means no pruning. */
  private def boundsOf(df: GenericRecord, field: String): Map[Int, Array[Byte]] =
    // avro's generic get THROWS on a field absent from the writer
    // schema (older manifests) — absent bounds just mean no pruning
    Option(df.getSchema.getField(field)).flatMap(_ => Option(df.get(field))) match {
      case None => Map.empty
      case Some(arr: java.util.Collection[_]) =>
        arr.asScala.map { e =>
          val r = e.asInstanceOf[GenericRecord]
          val bytes = r.get("value") match {
            case bb: java.nio.ByteBuffer =>
              val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
            case b: Array[Byte] => b
            case other => sys.error(s"unexpected bound value $other")
          }
          (r.get("key").asInstanceOf[Number].intValue, bytes)
        }.toMap
      case Some(other) => sys.error(s"unexpected $field shape: $other")
    }

  private[graft] final case class SnapshotFiles(data: Seq[IceFile],
      posDeletes: Seq[(Path, Long)], eqDeletes: Seq[(Path, Long, Seq[Int])])

  /** Nullable-long field tolerant of absence (older writers). */
  private def longOptOf(r: GenericRecord, f: String): Option[Long] =
    Option(r.getSchema.getField(f)).flatMap(_ => Option(r.get(f)))
      .map(_.asInstanceOf[Number].longValue)

  private def longOpt(r: GenericRecord, f: String, dflt: Long = 0L): Long =
    longOptOf(r, f).getOrElse(dflt)

  private def intSeqOpt(r: GenericRecord, f: String): Seq[Int] =
    Option(r.getSchema.getField(f)).flatMap(_ => Option(r.get(f))) match {
      case Some(c: java.util.Collection[_]) =>
        c.asScala.toSeq.map(_.asInstanceOf[Number].intValue)
      case _ => Seq.empty
    }

  /** Live files of one snapshot: manifest-list → manifests →
    * non-DELETED entries, bounds and DATA SEQUENCE NUMBERS included.
    * DATA manifests (content 0) yield data files; DELETE manifests
    * (content 1) yield POSITION delete files (data_file.content 1) and
    * EQUALITY delete files (content 2, with their `equality_ids`) —
    * both applied at read by [[applyDeletes]] under the spec's
    * sequence-number rules. */
  private[sources] def liveFilesOf(table: Path, manifestList: String): SnapshotFiles = {
    // the manifest's own sequence number rides the manifest-LIST entry;
    // a null per-entry sequence_number INHERITS it (the spec's
    // inheritance rule — real writers leave same-snapshot entries null)
    val manifests = avroRecords(resolve(table, manifestList)).map { m =>
      (str(m, "manifest_path"), int(m, "content"),
        longOpt(m, "sequence_number"))
    }
    val data = scala.collection.mutable.ArrayBuffer.empty[IceFile]
    val pos = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    val eqs = scala.collection.mutable.ArrayBuffer.empty[(Path, Long, Seq[Int])]
    manifests.foreach { case (mp, mContent, mSeq) =>
      avroRecords(resolve(table, mp)).foreach { e =>
        val status = int(e, "status")
        if (status != 2) { // not DELETED
          val seq = longOptOf(e, "sequence_number").getOrElse(mSeq)
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val fmt = str(df, "file_format")
          if (!fmt.equalsIgnoreCase("parquet"))
            sys.error(s"$table: file format $fmt — only parquet is read")
          int(df, "content") match {
            case 0 =>
              if (mContent != 0)
                sys.error(s"$table: data file routed through a DELETE " +
                  "manifest — malformed tree, refusing to guess")
              data += IceFile(resolve(table, str(df, "file_path")),
                boundsOf(df, "lower_bounds"), boundsOf(df, "upper_bounds"),
                seq, partitionOf(df))
            case 1 =>
              if (mContent != 1)
                sys.error(s"$table: position-delete file in a DATA manifest")
              pos += ((resolve(table, str(df, "file_path")), seq))
            case 2 =>
              if (mContent != 1)
                sys.error(s"$table: equality-delete file in a DATA manifest")
              val ids = intSeqOpt(df, "equality_ids")
              if (ids.isEmpty)
                sys.error(s"$table: equality delete file without " +
                  "equality_ids — cannot apply, refusing to guess")
              eqs += ((resolve(table, str(df, "file_path")), seq, ids))
            case other =>
              sys.error(s"$table: unknown data_file.content $other")
          }
        }
      }
    }
    SnapshotFiles(data.toSeq, pos.toSeq, eqs.toSeq)
  }

  /** Apply the snapshot's DELETE FILES the Spark-native way. Each data
    * row carries its provenance (`_metadata.file_path`/`row_index`) and
    * its file's DATA SEQUENCE NUMBER (a broadcast (file → seq) join —
    * config-scale); then:
    *
    *  - POSITION deletes (`file_path` + `pos`) anti-join on the exact
    *    (file, ordinal) pair, applied when the data sequence number is
    *    ≤ the delete's (the spec's rule: a delete cannot name rows of
    *    a LATER rewrite of the same path);
    *  - EQUALITY deletes anti-join null-safely on the columns their
    *    `equality_ids` name, applied when the data sequence number is
    *    STRICTLY below the delete's (rows written after the delete are
    *    not deleted — the CDC upsert semantics the file form exists
    *    for), one anti-join per distinct id-set.
    *
    * All joins scale with the delete sets (AQE broadcasts the typical
    * small ones), never the table; no bitmaps, no driver row lists.
    */
  /** Canonical file-path COLUMN, the ONE implementation every join of
    * `_metadata.file_path` against stored path spellings goes through:
    * `_metadata` arrives URI-escaped (`file:///a/my%20table/…`) while a
    * delete file's `file_path` (or a manifest's resolution) holds
    * whatever its writer stored — escaped URI or raw path. Decoding
    * the URI-escaped forms (pre-protecting literal '+', which
    * url_decode would turn into a space) makes every source join on
    * one spelling; normalizing only one side silently un-applies
    * deletes, so no caller may roll its own copy of this rule. */
  private[graft] def normPathCol(
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c.startsWith("file:"),
      regexp_replace(url_decode(regexp_replace(c, "\\+", "%2B")),
        "^file:/+", "/"))
      .otherwise(c)

  private def applyDeletes(spark: SparkSession, table: Path, df: DataFrame,
      files: Seq[IceFile], sf: SnapshotFiles,
      fieldName: Map[Int, String]): DataFrame = {
    val hasDeletes = sf.posDeletes.nonEmpty || sf.eqDeletes.nonEmpty
    val partitioned = files.exists(_.partition.nonEmpty)
    if (!hasDeletes && !partitioned) return df
    // Canonicalize EVERY path to the raw (unescaped) filesystem form:
    val norm = normPathCol _
    val cols = df.columns.toSeq
    import spark.implicits._
    // provenance is captured ONCE, directly on the scan — `_metadata`
    // does not survive the joins below
    var out = df.withColumn("__file", norm(col("_metadata.file_path")))
      .withColumn("__pos", col("_metadata.row_index"))
    if (partitioned) {
      // IDENTITY-partition attach: hive-layout data files (the TxLog
      // mirror's) do not CONTAIN their partition columns — each file's
      // values live in its manifest entry's `partition` tuple. One
      // broadcast (file → values) join, then COALESCE per column: a
      // file that does carry the column (real Iceberg writers store
      // identity values in-file) keeps its own data, a hive file fills
      // from the manifest — both spellings of the spec read correctly.
      val pcols = files.flatMap(_.partition.keys).distinct
        .filter(cols.contains)
      val pdf = files.map(f => (f.path.toString +:
          pcols.map(c => f.partition.get(c).orNull)).toSeq)
        .map(org.apache.spark.sql.Row.fromSeq)
      val pschema = StructType(StructField("__pf", StringType, false) +:
        pcols.map(StructField(_, StringType, true)))
      val pvdf = spark.createDataFrame(pdf.asJava, pschema).toDF(
        "__pf" +: pcols.map(c => s"__pv_$c"): _*)
      out = out.join(broadcast(pvdf), col("__file") === col("__pf"), "left")
        // fail closed: a file missing from its own snapshot's partition
        // map is a canonicalization bug — nulling the partition column
        // silently would be data corruption
        .withColumn("__pf", when(col("__pf").isNotNull, col("__pf"))
          .otherwise(raise_error(concat(
            lit("iceberg read: data file missing from the snapshot's " +
              "partition-value map: "), col("__file")))))
      pcols.foreach { c =>
        val dt = df.schema(c).dataType
        // tuples serialize dates as epoch DAYS and timestamps as epoch
        // MICROS (spec single-value form) — a plain string cast would
        // null them; everything else casts directly
        val raw = col(s"__pv_$c")
        val attached = dt match {
          case DateType => date_from_unix_date(raw.cast("int"))
          case TimestampType => timestamp_micros(raw.cast("long"))
          case _ => raw.cast(dt)
        }
        out = out.withColumn(c, coalesce(col(c), attached))
      }
      out = out.drop("__pf" +: pcols.map(c => s"__pv_$c"): _*)
    }
    if (!hasDeletes) return out.select(cols.map(col): _*)
    val seqDf = files.map(f => (f.path.toString, f.seq)).toDF("__sf", "__seq")
    out = out
      .join(broadcast(seqDf), col("__file") === col("__sf"), "left")
      .drop("__sf")
      // FAIL CLOSED on coverage gaps: the file list and seqDf come from
      // the same snapshot plan, so a row whose normalized path missed
      // the join is a path-canonicalization bug (symlinked temp dir,
      // alternate URI scheme) — with __seq null every delete predicate
      // below evaluates null and deleted rows silently RESURRECT.
      // Surface it at execution instead (row-level null check, no extra
      // pass over the data).
      .withColumn("__seq", when(col("__seq").isNotNull, col("__seq"))
        .otherwise(raise_error(concat(
          lit("iceberg read: data file missing from the snapshot's " +
            "sequence-number map (path canonicalization bug?): "),
          col("__file")))))
    if (sf.posDeletes.nonEmpty) {
      val dels = sf.posDeletes.map { case (p, dseq) =>
        // a relative `file_path` (the TxLog mirror's spelling, like its
        // data entries) names a file under this table's root
        val fp = col("file_path")
        spark.read.parquet(p.toString)
          .select(norm(when(fp.startsWith("/") || fp.startsWith("file:"), fp)
            .otherwise(concat(lit(table.toAbsolutePath.toString + "/"), fp)))
            .as("__del_file"),
            col("pos").as("__del_pos"), lit(dseq).as("__del_seq"))
      }.reduce(_.unionByName(_))
      out = out.join(dels, col("__file") === col("__del_file") &&
        col("__pos") === col("__del_pos") &&
        col("__seq") <= col("__del_seq"), "left_anti")
    }
    sf.eqDeletes.groupBy(_._3).foreach { case (ids, group) =>
      val names = ids.map(id => fieldName.getOrElse(id, sys.error(
        s"equality_ids name unknown field id $id")))
      val dels = group.map { case (p, dseq, _) =>
        spark.read.parquet(p.toString)
          .select(names.map(n => col(n).as(s"__del_$n")) :+
            lit(dseq).as("__del_seq"): _*)
      }.reduce(_.unionByName(_))
      val cond = names.map(n => col(n) <=> col(s"__del_$n")).reduce(_ && _) &&
        col("__seq") < col("__del_seq")
      out = out.join(dels, cond, "left_anti")
    }
    out.select(cols.map(col): _*)
  }

  /** Field-id → column-name map of the metadata's current schema. */
  private[sources] def fieldNamesById(meta: JsonNode): Map[Int, String] = {
    val sid = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    Option(meta.get("schemas"))
      .flatMap(_.asScala.find(s => int2(s, "schema-id") == sid))
      .map(_.get("fields").asScala.map(f =>
        f.get("id").asInt() -> f.get("name").asText()).toMap)
      .getOrElse(Map.empty)
  }

  /** EVERY name a field id has carried across the metadata's whole
    * schema history — the rename detector: a field with >1 name was
    * renamed at some point, so older data files may store it under the
    * previous spelling and a BY-NAME parquet read of those files would
    * bind it to null. Callers that resolve columns by current name
    * must refuse (or switch to field-id resolution) when the set has
    * more than one element. */
  private[sources] def fieldNamesByIdAcrossSchemas(
      meta: JsonNode): Map[Int, Set[String]] =
    Option(meta.get("schemas")).map(_.asScala.toSeq
        .flatMap(_.get("fields").asScala.map(f =>
          f.get("id").asInt() -> f.get("name").asText()))
        .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet })
      .getOrElse(Map.empty)

  // ------------------------------------ bound decode + file skipping

  /** Iceberg's binary single-value serialization (spec appendix D):
    * little-endian fixed width for numerics, UTF-8 for strings. */
  private[graft] def decodeBound(bytes: Array[Byte], dt: DataType): Option[Any] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType => Some(bb.getInt)
      case LongType | TimestampType | TimestampNTZType => Some(bb.getLong)
      case FloatType => Some(bb.getFloat)
      case DoubleType => Some(bb.getDouble)
      case BooleanType => Some(bytes.nonEmpty && bytes(0) != 0)
      case StringType => Some(new String(bytes, "UTF-8"))
      // decimal (unscaled big-endian) / binary bounds: undecoded here —
      // returning None means "no trusted bound", which never prunes
      // (the sound direction), instead of crashing the whole query
      case _ => None
    }
  }

  /** Compare a DECODED bound against a PREDICATE value by converting
    * the predicate into the bound's decoded domain (days for dates,
    * micros for timestamps, doubles for numerics, lexicographic ONLY
    * for string columns). None = not comparable in a way we trust —
    * the caller must NOT prune on it (the sound direction; a
    * lexicographic fallback here would silently skip files whose rows
    * match, e.g. "17..." < "2024-..." ). */
  private def cmpBound(bound: Any, pred: Any, dt: DataType): Option[Int] = {
    def num(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue)
      case _ => None
    }
    dt match {
      case StringType => bound match {
        case b: String => Some(b.compareTo(pred.toString))
        case _ => None
      }
      case DateType =>
        val days: Option[Long] = pred match {
          case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
          case d: java.time.LocalDate => Some(d.toEpochDay)
          case n: Number => Some(n.longValue)
          case st: String =>
            scala.util.Try(java.time.LocalDate.parse(st).toEpochDay).toOption
          case _ => None
        }
        for (b <- num(bound); d <- days)
          yield java.lang.Double.compare(b, d.toDouble)
      case TimestampType | TimestampNTZType =>
        val micros: Option[Long] = pred match {
          case t: java.sql.Timestamp =>
            Some(t.getTime * 1000L + (t.getNanos % 1000000) / 1000)
          case i: java.time.Instant =>
            Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
          case n: Number => Some(n.longValue)
          case _ => None
        }
        for (b <- num(bound); m <- micros)
          yield java.lang.Double.compare(b, m.toDouble)
      case _ =>
        for (b <- num(bound); p2 <- num(pred))
          yield java.lang.Double.compare(b, p2)
    }
  }

  /** Snapshot read that SKIPS files the manifest bounds prove outside
    * the conjunctive inclusive ranges `preds` = (column, lo, hi; null =
    * unbounded) — Iceberg's own planning path (min/max per field id in
    * the manifests, no footer reads). Sound direction: a file missing
    * bounds for a predicate column is always read. Returns the pruned
    * frame WITH the residual range filters applied (pruning is an
    * over-approximation, the filter is the gate). Skip counts surface
    * via [[lastSkipScan]] for specs.
    */
  @volatile private[graft] var lastSkipScan: (Long, Long) = (0L, 0L)

  /** Prunable columns of the current schema: name → (field id, Spark
    * type). uuid maps to StringType for READING, but its bounds are 16
    * raw bytes — lexicographic comparison against uuid text would
    * prune unsoundly, so uuid columns never prune. */
  private[sources] def boundsFieldIds(dir: String,
      meta: JsonNode): Map[String, (Int, DataType)] = {
    val sid = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
    val schemaNode = Option(meta.get("schemas"))
      .flatMap(_.asScala.find(s => int2(s, "schema-id") == sid))
      .getOrElse(sys.error(s"$dir: no schema $sid"))
    schemaNode.get("fields").asScala.flatMap { f =>
      val t = f.get("type")
      if (t.isTextual && t.asText() == "uuid") None
      else sparkType(t).map(dt =>
        f.get("name").asText() -> (f.get("id").asInt(), dt))
    }.toMap
  }

  /** An identity-partition tuple value as a [[cmpBound]]-comparable
    * bound (the value is constant across the file, so lower = upper =
    * it): numerics/date-days/timestamp-micros to Number, strings as-is.
    * None never prunes — the sound direction. */
  private def partIdentBound(f: IceFile, c: String,
      dt: DataType): Option[Any] =
    f.partition.get(c).filter(_ != null).flatMap { v =>
      dt match {
        case StringType => Some(v)
        case LongType | IntegerType | DateType
            | TimestampType | TimestampNTZType =>
          v.toLongOption.map(Long.box)
        case DoubleType | FloatType => v.toDoubleOption.map(Double.box)
        case _ => None
      }
    }

  /** A file survives unless its manifest bounds PROVE the range
    * disjoint — an incomparable (bound, predicate) pair proves
    * nothing, an unknown column never prunes. Files without explicit
    * bounds for a column fall back to its identity-PARTITION tuple
    * value when one exists (constant per file, so it IS both bounds) —
    * hive-layout/`add_files` trees then prune partition predicates
    * without any writer-supplied column stats. */
  private[sources] def fileSurvives(f: IceFile, preds: Seq[(String, Any, Any)],
      fieldIds: Map[String, (Int, DataType)]): Boolean =
    preds.forall { case (c, lo, hi) =>
      fieldIds.get(c) match {
        case None => true
        case Some((id, dt)) =>
          val lb = f.lowerBounds.get(id).flatMap(decodeBound(_, dt))
            .orElse(partIdentBound(f, c, dt))
          val ub = f.upperBounds.get(id).flatMap(decodeBound(_, dt))
            .orElse(partIdentBound(f, c, dt))
          val aboveHi = hi != null &&
            lb.exists(l => cmpBound(l, hi, dt).exists(_ > 0))
          val belowLo = lo != null &&
            ub.exists(u => cmpBound(u, lo, dt).exists(_ < 0))
          !(aboveHi || belowLo)
      }
    }

  /** Non-identity fields of the metadata's DEFAULT partition spec as
    * (partition field name, transform, source column name) — the
    * read-side half of transform partitioning. Unknown source ids and
    * void transforms drop (they never prune — sound). */
  private[graft] def partitionTransforms(
      meta: JsonNode): Seq[(String, String, String)] = {
    val names = fieldNamesById(meta)
    val specId = Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0)
    Option(meta.get("partition-specs"))
      .flatMap(_.asScala.find(s => int2(s, "spec-id") == specId))
      .map(_.get("fields").asScala.toSeq.flatMap { pf =>
        val tr = pf.get("transform").asText()
        if (tr == "identity" || tr == "void") None
        else names.get(pf.get("source-id").asInt())
          .map(src => (pf.get("name").asText(), tr, src))
      })
      .getOrElse(Seq.empty)
  }

  /** TRANSFORM-tuple pruning: a file survives unless a partition
    * transform's tuple value PROVES the predicate's range disjoint on
    * the SOURCE column — the pruning a spec-conformant planner derives
    * from `bucket[N]` / `truncate[W]` / temporal transforms:
    *
    *  - `bucket[N]`: an EQUALITY predicate (lo == hi, non-null)
    *    determines the row's bucket — a file whose tuple differs can
    *    not hold it. Range predicates prove nothing (the hash destroys
    *    order); null-eq never prunes (hash of null is unspecified).
    *  - `truncate[W]` int/long: tuple t bounds the source to
    *    [t, t+W−1]; strings bound below by the prefix t and above by
    *    the EXCLUSIVE next-prefix (last codepoint bumped — no bump
    *    exists at the codepoint ceiling, which then never prunes).
    *  - `hours`/`days`/`months`/`years`: the tuple's UTC time range
    *    bounds the source timestamp (dates: the day range).
    *
    * Every unprovable direction keeps the file, the same fail-open
    * rule as [[fileSurvives]]. */
  private[graft] def transformSurvives(f: IceFile,
      preds: Seq[(String, Any, Any)],
      specs: Seq[(String, String, String)],
      fieldIds: Map[String, (Int, DataType)]): Boolean = {
    val BucketT = """bucket\[(\d+)\]""".r
    val TruncT = """truncate\[(\d+)\]""".r
    preds.forall { case (c, lo, hi) =>
      specs.filter(_._3 == c).forall { case (pname, transform, _) =>
        val tupleV = f.partition.get(pname).filter(_ != null)
        val srcDt = fieldIds.get(c).map(_._2)
        (tupleV, srcDt) match {
          case (Some(t), Some(dt)) =>
            // synthesized inclusive source bounds (lb, ub) from the
            // tuple; None on a side proves nothing on that side
            def keepByBounds(lb: Option[Any], ub: Option[Any]): Boolean = {
              val aboveHi = hi != null &&
                lb.exists(l => cmpBound(l, hi, dt).exists(_ > 0))
              val belowLo = lo != null &&
                ub.exists(u => cmpBound(u, lo, dt).exists(_ < 0))
              !(aboveHi || belowLo)
            }
            transform match {
              case BucketT(n) if lo != null && hi != null && lo == hi =>
                (for {
                  tb <- t.toIntOption
                  b <- graft.functions.IcebergTransforms.bucketOf(n.toInt, lo, dt)
                } yield tb == b).getOrElse(true)
              case TruncT(w) => dt match {
                case IntegerType | LongType =>
                  t.toLongOption.forall(tl => keepByBounds(
                    Some(Long.box(tl)), Some(Long.box(tl + w.toLong - 1))))
                case StringType =>
                  // prefix lower bound is the prefix itself; the upper
                  // bound is EXCLUSIVE next(t) — emulate inclusivity by
                  // pruning only when next(t) <= lo strictly proves all
                  // values < lo ... next(t) <= lo ⇒ value < next(t) <= lo
                  val belowLo = lo != null && nextPrefix(t).exists(np =>
                    cmpBound(np, lo, dt).exists(_ <= 0))
                  keepByBounds(Some(t), None) && !belowLo
                case _ => true
              }
              case tr @ ("hours" | "hour" | "days" | "day"
                  | "months" | "month" | "years" | "year") =>
                t.toLongOption.forall { tl =>
                  dt match {
                    case TimestampType | TimestampNTZType =>
                      graft.functions.IcebergTransforms
                        .temporalRangeMicros(tr, tl)
                        .forall { case (s, e) => keepByBounds(
                          Some(Long.box(s)), Some(Long.box(e - 1L))) }
                    case DateType =>
                      // only DAY-ALIGNED transforms bound a DATE
                      // source; an (invalid-spec) hours-over-date
                      // would floor-divide into INVERTED bounds and
                      // wrongly prune — fail open instead
                      if (tr == "hours" || tr == "hour") true
                      else graft.functions.IcebergTransforms
                        .temporalRangeMicros(tr, tl)
                        .forall { case (s, e) => keepByBounds(
                          Some(Long.box(s / 86400000000L)),
                          Some(Long.box(e / 86400000000L - 1L))) }
                    case _ => true
                  }
                }
              case _ => true
            }
          case _ => true
        }
      }
    }
  }

  /** The smallest string strictly greater than every string with
    * prefix `s` UNDER UTF-16 code-unit comparison (what
    * `String.compareTo` — and thus [[cmpBound]] — uses): the last
    * codepoint bumped by one. SOUND ONLY while the bump stays strictly
    * below the surrogate range — a bump from the BMP into surrogates
    * or supplementary codepoints does NOT preserve code-unit order
    * (U+FFFF sorts ABOVE a supplementary codepoint's lead surrogate),
    * so those cases return None and never prune. Real truncate keys
    * (ASCII/latin prefixes) all take the fast path. */
  private def nextPrefix(s: String): Option[String] = {
    if (s.isEmpty) return None
    val cps = s.codePoints().toArray
    val last = cps(cps.length - 1)
    if (last + 1 >= Character.MIN_SURROGATE.toInt) None
    else Some(new String(cps.init :+ (last + 1), 0, cps.length))
  }

  /** Whole-file skip flags against the CURRENT snapshot's manifest
    * bounds, keyed by resolved absolute path (the spelling
    * [[ForeignIcebergLog]] rels use) — the streaming scan's filterExpr
    * pruning over foreign Iceberg trees; same survive-unless-provably-
    * disjoint rule as [[skipScan]]. */
  private[graft] def pruneFlags(dir: String,
      preds: Seq[(String, Any, Any)]): Seq[(String, Boolean)] = {
    val table = Paths.get(dir)
    val meta = readMetadata(table)
    val cur = Option(meta.get("current-snapshot-id")).map(_.asLong())
      .filter(_ != -1L).getOrElse(sys.error(s"$dir: no current snapshot"))
    val files = liveFilesOf(table,
      snapshotNode(meta, cur).get("manifest-list").asText()).data
    val fieldIds = boundsFieldIds(dir, meta)
    val specs = partitionTransforms(meta)
    files.map(f => f.path.toAbsolutePath.normalize().toString ->
      (fileSurvives(f, preds, fieldIds) &&
        transformSurvives(f, preds, specs, fieldIds)))
  }

  def skipScan(spark: SparkSession, dir: String,
      preds: Seq[(String, Any, Any)]): DataFrame = {
    val table = Paths.get(dir)
    val meta = readMetadata(table)
    val cur = Option(meta.get("current-snapshot-id")).map(_.asLong())
      .filter(_ != -1L).getOrElse(sys.error(s"$dir: no current snapshot"))
    val snapFiles = liveFilesOf(table,
      snapshotNode(meta, cur).get("manifest-list").asText())
    val files = snapFiles.data
    val fieldIds = boundsFieldIds(dir, meta)
    val specs = partitionTransforms(meta)
    val surviving = files.filter(f => fileSurvives(f, preds, fieldIds) &&
      transformSurvives(f, preds, specs, fieldIds))
    lastSkipScan = (files.size.toLong, surviving.size.toLong)
    val schemaOpt = currentSchema(meta)
    if (surviving.isEmpty) {
      // every file provably disjoint: a legitimate EMPTY result, typed
      // by the metadata schema (falling back to one file's footer)
      val schema = schemaOpt.getOrElse {
        if (files.isEmpty) sys.error(s"$dir: snapshot lists no data files")
        spark.read.parquet(files.head.path.toString).schema
      }
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val rd = schemaOpt.map(spark.read.schema).getOrElse(spark.read)
    val base = applyDeletes(spark, table,
      rd.parquet(surviving.map(_.path.toString): _*),
      surviving, snapFiles, fieldNamesById(meta))
    preds.foldLeft(base) { case (df, (c, lo, hi)) =>
      // a predicate on a column the table doesn't have never pruned
      // (above) — its residual must be a no-op too, not an analysis error
      if (!df.columns.contains(c)) df
      else {
        val withLo = Option(lo).map(v => df.filter(col(c) >= lit(v))).getOrElse(df)
        Option(hi).map(v => withLo.filter(col(c) <= lit(v))).getOrElse(withLo)
      }
    }
  }

  /** Iceberg type string → Spark type (the spec's primitive types;
    * nested types fall back to scan inference by returning None). */
  private def sparkType(t: JsonNode): Option[DataType] =
    if (!t.isTextual) None
    else t.asText() match {
      case "boolean" => Some(BooleanType)
      case "int" => Some(IntegerType)
      case "long" => Some(LongType)
      case "float" => Some(FloatType)
      case "double" => Some(DoubleType)
      case "date" => Some(DateType)
      case "timestamptz" => Some(TimestampType)
      case "timestamp" => Some(TimestampNTZType)
      case "string" | "uuid" => Some(StringType)
      case "binary" => Some(BinaryType)
      case d if d.startsWith("decimal(") =>
        val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",")
        Some(DecimalType(p.trim.toInt, s.trim.toInt))
      case _ => None
    }

  /** The current schema of a metadata JSON as a Spark StructType; None
    * when any field's type has no mapping (the read then falls back to
    * parquet inference). */
  private[sources] def currentSchema(meta: JsonNode,
      sidOverride: Option[Int] = None): Option[StructType] = {
    val sid = sidOverride.getOrElse(
      Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0))
    val schema = Option(meta.get("schemas"))
      .flatMap(_.asScala.find(s => int2(s, "schema-id") == sid))
      .orElse(Option(meta.get("schema"))) // v1 single-schema form
      .getOrElse(return None)
    val fields = schema.get("fields").asScala.toSeq.map { f =>
      sparkType(f.get("type")).map(dt =>
        StructField(f.get("name").asText(), dt,
          nullable = !Option(f.get("required")).exists(_.asBoolean(false))))
    }
    if (fields.exists(_.isEmpty)) None
    else Some(StructType(fields.flatten))
  }

  private def int2(n: JsonNode, f: String): Int =
    Option(n.get(f)).map(_.asInt()).getOrElse(0)

  private[sources] def snapshotNode(meta: JsonNode, id: Long): JsonNode =
    Option(meta.get("snapshots")).flatMap(_.asScala.find(
      _.get("snapshot-id").asLong() == id)).getOrElse(
      sys.error(s"snapshot $id not found in table metadata"))

  /** Snapshot-isolated read of the table's CURRENT snapshot — typed by
    * the CURRENT schema (a just-evolved column null-fills), the spec's
    * read-time behavior. */
  def snapshot(spark: SparkSession, dir: String): DataFrame = {
    val table = Paths.get(dir)
    val meta = readMetadata(table)
    val cur = Option(meta.get("current-snapshot-id")).map(_.asLong())
      .filter(_ != -1L).getOrElse(
        sys.error(s"$dir: table has no current snapshot"))
    readSnapshot(spark, dir, meta, cur, snapshotSchema = false)
  }

  /** Time travel to any retained snapshot id — typed by the SNAPSHOT's
    * own recorded schema-id: the current schema would surface columns
    * that did not exist at that point of history. */
  def snapshotAt(spark: SparkSession, dir: String, snapshotId: Long): DataFrame =
    readSnapshot(spark, dir, readMetadata(Paths.get(dir)), snapshotId,
      snapshotSchema = true)

  /** Spec hook: the content flags of one manifest-list's entries
    * (0 = data manifest, 1 = delete manifest). */
  private[graft] def avroProbe(table: Path, ml: String): Seq[Int] =
    avroRecords(resolve(table, ml)).map(m => int(m, "content"))

  /** Spec hook: a snapshot's live data files as the manifests record
    * them (data sequence numbers + raw bounds included). */
  private[graft] def filesOfSnapshot(dir: String, snapshotId: Long): Seq[IceFile] = {
    val table = Paths.get(dir)
    val snap = snapshotNode(readMetadata(table), snapshotId)
    liveFilesOf(table, snap.get("manifest-list").asText()).data
  }

  private def readSnapshot(spark: SparkSession, dir: String, meta: JsonNode,
      snapshotId: Long, snapshotSchema: Boolean): DataFrame = {
    val table = Paths.get(dir)
    val snap = snapshotNode(meta, snapshotId)
    val sf = liveFilesOf(table, snap.get("manifest-list").asText())
    val sid =
      if (snapshotSchema) Option(snap.get("schema-id")).map(_.asInt())
      else None
    val rd = currentSchema(meta, sid).map(spark.read.schema)
      .getOrElse(spark.read)
    if (sf.data.isEmpty)
      sys.error(s"$dir: snapshot $snapshotId lists no data files")
    applyDeletes(spark, table, rd.parquet(sf.data.map(_.path.toString): _*),
      sf.data, sf, fieldNamesById(meta))
  }

  /** Resolve a NAMED REF (the v2 `refs` map: branches and tags) to its
    * snapshot id — `snapshotFor(dir, "audit-tag")` is the named form
    * of time travel (`VERSION AS OF 'ref'`). Absent refs error with
    * the known names. */
  def snapshotFor(spark: SparkSession, dir: String, ref: String): DataFrame = {
    val meta = readMetadata(Paths.get(dir))
    val refs = Option(meta.get("refs")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue).toMap).getOrElse(Map.empty)
    val id = refs.get(ref).map(_.get("snapshot-id").asLong()).getOrElse(
      sys.error(s"$dir: no ref '$ref' (known: ${refs.keys.toSeq.sorted.mkString(", ")})"))
    snapshotAt(spark, dir, id)
  }

  /** Timestamp time travel (`TIMESTAMP AS OF`): the newest snapshot
    * whose commit timestamp is ≤ `tsMillis` — the same contract as
    * [[DeltaLog.snapshotAsOf]]; a timestamp before the first snapshot
    * fails loudly. */
  def snapshotAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    // Resolve against the metadata's `snapshot-log` — the spec's record
    // of when each snapshot BECAME CURRENT on the main timeline — not
    // the raw `snapshots` array, which also holds branch/WAP snapshots
    // that were never current (resolving those would time-travel onto a
    // side branch). Fall back to the snapshots array only when the
    // writer recorded no snapshot-log.
    val meta = readMetadata(Paths.get(dir))
    val log = Option(meta.get("snapshot-log")).map(_.asScala.toSeq.map(e =>
      (e.get("snapshot-id").asLong(), e.get("timestamp-ms").asLong())))
      .filter(_.nonEmpty)
    val hist = log.getOrElse(history(dir).map(h => (h._1, h._2)))
    val id = hist.filter(_._2 <= tsMillis).sortBy(_._2).lastOption.map(_._1)
      .getOrElse(sys.error(s"$dir: no snapshot at or before $tsMillis " +
        s"(earliest: ${hist.map(_._2).minOption.getOrElse(-1L)})"))
    snapshotAt(spark, dir, id)
  }

  /** The table's snapshot history (id, timestamp, manifest-list) —
    * metadata-scale. */
  def history(dir: String): Seq[(Long, Long, String)] = {
    val meta = readMetadata(Paths.get(dir))
    Option(meta.get("snapshots")).map(_.asScala.toSeq.map(s =>
      (s.get("snapshot-id").asLong(),
        Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L),
        s.get("manifest-list").asText()))).getOrElse(Seq.empty)
  }

  /** Every file one snapshot's manifest-list transitively references —
    * the list itself, each manifest it names, and each entry's
    * `file_path` REGARDLESS of entry status: a DELETED entry still
    * NAMES a file other snapshots may list live, and reachability for
    * orphan accounting is about naming, not liveness. Canonical
    * absolute path strings (metadata-scale walk). */
  private def referencedFiles(table: Path, manifestList: String): Set[String] = {
    val out = scala.collection.mutable.Set.empty[String]
    val mlp = resolve(table, manifestList).normalize()
    out += mlp.toString
    avroRecords(mlp).foreach { m =>
      val mp = resolve(table, str(m, "manifest_path")).normalize()
      out += mp.toString
      avroRecords(mp).foreach { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        out += resolve(table, str(df, "file_path")).normalize().toString
      }
    }
    out.toSet
  }

  /** Snapshot EXPIRATION — the spec's `expireSnapshots` maintenance
    * action, the Iceberg-side analog of TxLog's VACUUM: drop from
    * table metadata every snapshot whose commit timestamp is older
    * than `olderThanMillis`, ALWAYS retaining
    *  - the current snapshot,
    *  - the newest `retainLast` MAIN-TIMELINE snapshots (snapshot-log
    *    order — the raw `snapshots` array may also hold WAP/branch
    *    snapshots, which only ref protection keeps alive),
    *  - every snapshot a named ref (branch head or tag) points at.
    *
    * METADATA-ONLY: writes the next `v<N>.metadata.json` with the
    * `snapshots` and `snapshot-log` arrays filtered and everything
    * else (schemas, refs, partition specs, properties) preserved
    * verbatim, then bumps `version-hint.text`; NO files are deleted.
    * Returns the expired snapshot ids plus the ORPHAN ACCOUNTING:
    * every manifest-list, manifest, and data/delete file reachable
    * from an expired snapshot but from NO retained one — exactly the
    * set a separate remove step (the spec's delete-orphan-files
    * action) may safely unlink. Computing the diff from both
    * reachability sets (rather than "files the expired snapshot
    * added") is what keeps shared manifests — e.g. a manifest
    * re-listed as EXISTING by a later snapshot — out of the orphan
    * list. */
  def expireSnapshots(dir: String, olderThanMillis: Long,
      retainLast: Int = 1): (Seq[Long], Seq[String]) = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val table = Paths.get(dir)
    val metaPath = currentMetadataPath(table)
    val root = mapper.readTree(Files.readString(metaPath))
      .asInstanceOf[ObjectNode]
    val snaps = Option(root.get("snapshots")).map(_.asScala.toSeq)
      .getOrElse(Seq.empty)
    val ids = snaps.map(s => (s.get("snapshot-id").asLong(),
      Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L)))
    val timeline = Option(root.get("snapshot-log")).map(_.asScala.toSeq
      .map(_.get("snapshot-id").asLong())).filter(_.nonEmpty)
      .getOrElse(ids.sortBy(_._2).map(_._1))
    val refIds = Option(root.get("refs")).map(_.properties().asScala
      .map(_.getValue.get("snapshot-id").asLong()).toSet)
      .getOrElse(Set.empty[Long])
    val protectedIds: Set[Long] = refIds ++
      timeline.takeRight(retainLast) ++
      Option(root.get("current-snapshot-id")).map(_.asLong())
        .filter(_ != -1L).toSet
    val expired = ids.collect {
      case (id, ts) if ts < olderThanMillis && !protectedIds(id) => id }
    if (expired.isEmpty) return (Seq.empty, Seq.empty)
    val expiredSet = expired.toSet
    // orphan accounting BEFORE the rewrite, from both reachability sets
    val mlOf = snaps.map(s => s.get("snapshot-id").asLong() ->
      s.get("manifest-list").asText()).toMap
    def reach(sids: Seq[Long]): Set[String] =
      sids.flatMap(id => referencedFiles(table, mlOf(id))).toSet
    val orphans = (reach(expired) --
      reach(ids.map(_._1).filterNot(expiredSet))).toSeq.sorted
    // rewrite: filter the two arrays, keep every other field verbatim
    val newSnaps = mapper.createArrayNode()
    snaps.filterNot(s => expiredSet(s.get("snapshot-id").asLong()))
      .foreach(newSnaps.add)
    root.set[JsonNode]("snapshots", newSnaps)
    Option(root.get("snapshot-log")).foreach { slog =>
      val kept = mapper.createArrayNode()
      slog.asScala.filterNot(e => expiredSet(e.get("snapshot-id").asLong()))
        .foreach(kept.add)
      root.set[JsonNode]("snapshot-log", kept)
    }
    // next metadata version = max existing v<N> + 1 (the hint's version
    // may trail a concurrently-written higher file). CREATE_NEW is the
    // never-overwrite guarantee: a concurrent mirror/expire that takes
    // the same version between the listing and the write fails the
    // open instead of being silently truncated; losing the race just
    // claims the next version.
    val body = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    var nextV = listDir(metadataDir(table)).map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
      .map(_.stripPrefix("v").stripSuffix(".metadata.json"))
      .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(0L) + 1
    var placed = false
    while (!placed) {
      try {
        Files.writeString(metadataDir(table).resolve(s"v$nextV.metadata.json"),
          body, java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        placed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => nextV += 1
      }
    }
    Files.writeString(metadataDir(table).resolve("version-hint.text"),
      nextV.toString)
    (expired, orphans)
  }

  /** Position-delete COMPACTION — the spec's
    * `rewrite_position_delete_files` maintenance action: coalesce the
    * current snapshot's position-delete files into ONE sorted delete
    * parquet routed through ONE delete manifest, in a new snapshot
    * that re-lists the data (and any equality-delete) manifests
    * untouched — no data row changes, the Iceberg analog of a
    * dataChange=false commit. After N stacked row-level deletes the
    * read side joins ONE delete file instead of N overlapping ones per
    * data file — at 100 TB that turns the delete-application join from
    * O(N · hidden rows) back to O(hidden rows), and the dedup absorbs
    * pairs named by multiple stacked deletes.
    *
    * Sequencing soundness: the merged file takes the MAX source delete
    * sequence. A position delete applies iff the paths match AND
    * dataSeq <= deleteSeq; data-file paths are never reused at later
    * sequences, so raising an older delete's sequence cannot capture
    * rows it never named.
    *
    * Metadata handling mirrors [[expireSnapshots]]: the new snapshot
    * appends to `snapshots`/`snapshot-log` with everything else
    * preserved verbatim, and the next metadata version is claimed
    * CREATE_NEW; prior snapshots keep reading their own delete files
    * (time travel unaffected). Intended for natively-written Iceberg
    * trees; the TxLog mirror already coalesces per version. Returns
    * (position-delete files before, after).
    */
  def compactPositionDeletes(spark: SparkSession, dir: String): (Int, Int) = {
    val table = Paths.get(dir)
    val root = mapper.readTree(Files.readString(currentMetadataPath(table)))
      .asInstanceOf[ObjectNode]
    val curId = Option(root.get("current-snapshot-id")).map(_.asLong())
      .filter(_ != -1L).getOrElse(sys.error(s"$dir: no current snapshot"))
    val snapsArr = Option(root.get("snapshots")).map(_.asScala.toSeq)
      .getOrElse(Seq.empty)
    val snap = snapsArr.find(_.get("snapshot-id").asLong() == curId)
      .getOrElse(sys.error(s"$dir: current snapshot $curId missing"))
    val ml = snap.get("manifest-list").asText()
    // split the manifest-list: content-0 manifests re-list untouched;
    // a content-1 manifest holding EQUALITY deletes re-lists untouched
    // too (this engine's writers never mix forms in one manifest);
    // everything else contributes its position-delete files
    val entries = avroRecords(resolve(table, ml)).map(m =>
      (str(m, "manifest_path"), int(m, "content"),
        longOpt(m, "sequence_number")))
    val keep = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    // re-listed manifests must KEEP their list-entry sequence numbers —
    // their null per-entry sequences inherit from the list entry, so
    // dropping it would re-sequence every untouched file to 0
    val keepSeqs = scala.collection.mutable.Map.empty[String, Long]
    val posFiles = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    entries.foreach { case (mp, content, mSeq) =>
      if (content == 0) { keep += ((mp, 0)); keepSeqs(mp) = mSeq }
      else {
        val es = avroRecords(resolve(table, mp))
          .filter(e => int(e, "status") != 2)
        val dfs = es.map(_.get("data_file").asInstanceOf[GenericRecord])
        if (dfs.exists(df => int(df, "content") == 2)) {
          keep += ((mp, 1)); keepSeqs(mp) = mSeq
        }
        else es.zip(dfs).foreach { case (e, df) =>
          // a null per-entry sequence INHERITS the manifest-list
          // entry's (the spec rule [[liveFilesOf]] applies) — native
          // writers leave same-snapshot entries null, so defaulting to
          // 0 would land the merged delete below every data sequence
          // and silently resurrect every deleted row
          posFiles += ((str(df, "file_path"),
            longOptOf(e, "sequence_number").getOrElse(mSeq)))
        }
      }
    }
    if (posFiles.size <= 1) return (posFiles.size, posFiles.size)
    val maxSeq = posFiles.map(_._2).max
    val merged = spark.read
      .parquet(posFiles.map(p => resolve(table, p._1).toString).toSeq: _*)
      .select(col("file_path"), col("pos")).distinct()
      .sort(col("file_path"), col("pos"))
      .coalesce(1)
    val newId = snapsArr.map(_.get("snapshot-id").asLong()).max + 1
    val delRel = writeDataFile(merged, table, s"compact-del-$newId.parquet")
    val mDel = writeManifest(table, s"m-del-compact-$newId.avro",
      Seq((1, delRel)), fileContent = 1, seqs = Map(delRel -> maxSeq))
    val newMl = writeManifestList(table, s"snap-compact-$newId.avro",
      keep.toSeq :+ ((mDel, 1)), newId,
      seqs = keepSeqs.toMap + (mDel -> maxSeq))
    // monotonic commit time for the AS OF resolver
    val ts = math.max(System.currentTimeMillis(),
      Option(snap.get("timestamp-ms")).map(_.asLong() + 1).getOrElse(1L))
    val sn = mapper.createObjectNode()
    sn.put("snapshot-id", newId)
    sn.put("sequence-number", newId)
    sn.put("timestamp-ms", ts)
    sn.put("manifest-list", newMl)
    Option(snap.get("schema-id")).foreach(s => sn.put("schema-id", s.asInt()))
    root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots")
      .add(sn)
    val sl = mapper.createObjectNode()
    sl.put("snapshot-id", newId)
    sl.put("timestamp-ms", ts)
    root.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshot-log")
      .add(sl)
    root.put("current-snapshot-id", newId)
    root.put("last-sequence-number", math.max(
      Option(root.get("last-sequence-number")).map(_.asLong()).getOrElse(0L),
      newId))
    val body = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    var nextV = listDir(metadataDir(table)).map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".metadata.json"))
      .map(_.stripPrefix("v").stripSuffix(".metadata.json"))
      .filter(_.forall(_.isDigit)).map(_.toLong).maxOption.getOrElse(0L) + 1
    var placed = false
    while (!placed) {
      try {
        Files.writeString(metadataDir(table).resolve(s"v$nextV.metadata.json"),
          body, java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        placed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => nextV += 1
      }
    }
    Files.writeString(metadataDir(table).resolve("version-hint.text"),
      nextV.toString)
    (posFiles.size, 1)
  }

  // ------------------------------------- golden-fixture tree (writer)
  // The engine only READS Iceberg; the builder below hand-authors a
  // spec-conformant v2 tree (avro manifests included) purely to pin
  // the reader — the same role the golden Delta fixture plays. Paths
  // are table-relative so the tree is position-independent.

  private val manifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  private val manifestEntrySchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int"},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
      |    "default":null},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"lower_bounds","type":["null",{"type":"array","items":
      |    {"type":"record","name":"k126_v127","fields":[
      |      {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
      |    "default":null},
      |  {"name":"upper_bounds","type":["null",{"type":"array",
      |    "items":"k126_v127"}],"default":null}]}}]}""".stripMargin)

  /** The mirror's manifest-entry schema for a PARTITIONED table: the
    * static entry schema plus the spec's `partition` record (field 102,
    * record `r102`) in `data_file`, its fields typed per the table's
    * partition columns. Unpartitioned tables keep the shared static
    * schema, so pre-existing trees and fixtures stay byte-stable. */
  private def mirrorEntrySchema(partCols: Seq[(String, DataType)]): Schema = {
    if (partCols.isEmpty) return manifestEntrySchema
    partCols.foreach { case (n, _) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"iceberg mirror: partition column '$n' is not a valid avro name")
    }
    val pf = partCols.map { case (n, dt) =>
      s"""{"name":"$n","type":["null","${partAvroType(dt)}"],"default":null}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int"},
         |{"name":"snapshot_id","type":["null","long"],"default":null},
         |{"name":"sequence_number","type":["null","long"],"default":null},
         |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
         |  {"name":"content","type":"int"},
         |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
         |    "default":null},
         |  {"name":"file_path","type":"string"},
         |  {"name":"file_format","type":"string"},
         |  {"name":"partition","type":{"type":"record","name":"r102",
         |    "fields":[$pf]}},
         |  {"name":"record_count","type":"long"},
         |  {"name":"file_size_in_bytes","type":"long"},
         |  {"name":"lower_bounds","type":["null",{"type":"array","items":
         |    {"type":"record","name":"k126_v127","fields":[
         |      {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
         |    "default":null},
         |  {"name":"upper_bounds","type":["null",{"type":"array",
         |    "items":"k126_v127"}],"default":null}]}}]}""".stripMargin)
  }

  /** Iceberg's binary single-value serialization, write side (fixture
    * authoring only — the engine never writes real Iceberg tables). */
  private[graft] def encodeBound(v: Any): Array[Byte] = {
    def le(n: Int) = java.nio.ByteBuffer.allocate(n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    v match {
      case i: Int => le(4).putInt(i).array()
      case l: Long => le(8).putLong(l).array()
      case f: Float => le(4).putFloat(f).array()
      case d: Double => le(8).putDouble(d).array()
      case s: String => s.getBytes("UTF-8")
      case other => sys.error(s"no bound encoding for $other")
    }
  }

  private def writeAvro(p: Path, schema: Schema,
      records: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, p.toFile)
    try records.foreach(w.append) finally w.close()
  }

  /** One manifest avro of (status, relPath) entries (optionally with
    * per-file field bounds, and — for hive-layout fixtures — per-file
    * identity PARTITION tuples typed by `partTypes`); returns its
    * table-relative path. */
  private def writeManifest(table: Path, name: String,
      entries: Seq[(Int, String)],
      bounds: Map[String, Map[Int, (Any, Any)]] = Map.empty,
      fileContent: Int = 0,
      seqs: Map[String, Long] = Map.empty,
      equalityIds: Seq[Int] = Seq.empty,
      partitions: Map[String, Map[String, String]] = Map.empty,
      partTypes: Seq[(String, DataType)] = Seq.empty): String = {
    val entrySchema = mirrorEntrySchema(partTypes)
    val dfSchema = entrySchema.getField("data_file").schema()
    val kvSchema = dfSchema.getField("lower_bounds").schema()
      .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
    def kvArray(m: Map[Int, Any]): java.util.List[GenericRecord] =
      m.toSeq.sortBy(_._1).map { case (id, v) =>
        val r = new GenericData.Record(kvSchema.getElementType)
        r.put("key", id)
        r.put("value", java.nio.ByteBuffer.wrap(encodeBound(v)))
        r: GenericRecord
      }.asJava
    val recs = entries.map { case (status, rel) =>
      val f = table.resolve(rel)
      val dataFile = new GenericData.Record(dfSchema)
      dataFile.put("content", fileContent)
      dataFile.put("file_path", rel)
      dataFile.put("file_format", "PARQUET")
      dataFile.put("record_count", 0L)
      dataFile.put("file_size_in_bytes",
        if (Files.exists(f)) Files.size(f) else 0L)
      bounds.get(rel).foreach { b =>
        dataFile.put("lower_bounds", kvArray(b.map { case (k, (lo, _)) => k -> lo }))
        dataFile.put("upper_bounds", kvArray(b.map { case (k, (_, hi)) => k -> hi }))
      }
      if (equalityIds.nonEmpty)
        dataFile.put("equality_ids", equalityIds.map(Int.box).asJava)
      if (partTypes.nonEmpty) {
        val pr = new GenericData.Record(dfSchema.getField("partition").schema())
        val byName = partitions.getOrElse(rel, Map.empty)
        partTypes.foreach { case (n, dt) =>
          pr.put(n, partTypedValue(byName.getOrElse(n, null), dt))
        }
        dataFile.put("partition", pr)
      }
      val e = new GenericData.Record(entrySchema)
      e.put("status", status)
      seqs.get(rel).foreach(v => e.put("sequence_number", Long.box(v)))
      e.put("data_file", dataFile)
      e: GenericRecord
    }
    val rel = s"metadata/$name"
    writeAvro(table.resolve(rel), entrySchema, recs)
    rel
  }

  /** Manifest-list entries as (table-relative path, content) — content
    * 0 = data manifest, 1 = delete manifest. `seqs` (keyed by manifest
    * rel path) writes the entry's `sequence_number`, which null
    * per-entry manifest sequences INHERIT (the spec rule) — native
    * writers always carry it; compaction must preserve it when
    * re-listing untouched manifests. */
  private def writeManifestList(table: Path, name: String,
      manifests: Seq[(String, Int)], snapshotId: Long,
      seqs: Map[String, Long] = Map.empty): String = {
    val recs = manifests.map { case (rel, content) =>
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", rel)
      r.put("manifest_length", Files.size(table.resolve(rel)))
      r.put("partition_spec_id", 0)
      r.put("content", content)
      seqs.get(rel).foreach(v => r.put("sequence_number", Long.box(v)))
      r.put("added_snapshot_id", snapshotId)
      r: GenericRecord
    }
    val rel = s"metadata/$name"
    writeAvro(table.resolve(rel), manifestListSchema, recs)
    rel
  }

  private def icebergFieldType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case DoubleType => "double"
    case FloatType => "float"
    case BooleanType => "boolean"
    case StringType => "string"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case other => sys.error(s"no iceberg mapping for $other")
  }

  private def metadataJson(table: Path, schema: StructType,
      snapshots: Seq[(Long, String)], currentId: Long): String =
    metadataJsonTs(table, Seq(schema),
      snapshots.map { case (id, ml) => (id, 1700000000000L + id, ml) },
      currentId)

  /** Iceberg's STABLE field ids, first-seen across the schema history:
    * a column keeps its id through every later schema (the spec's core
    * evolution rule — bounds and partition sources reference columns
    * by id, so ids must never re-bind on widening). For a single
    * schema this degenerates to ordinal+1, the ids every existing tree
    * and fixture already carries. */
  private def assignFieldIds(schemas: Seq[StructType]): Map[String, Int] = {
    val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    schemas.foreach(_.fields.foreach(f =>
      ids.getOrElseUpdate(f.name, ids.size + 1)))
    ids.toMap
  }

  /** Like [[metadataJson]] but with explicit per-snapshot timestamps,
    * plus the `snapshot-log` (the main-timeline history the AS OF
    * resolver prefers) and per-snapshot `sequence-number` — the mirror
    * writes real commit times, the fixtures keep their frozen ones.
    */
  private def metadataJsonTs(table: Path, schemaHistory: Seq[StructType],
      snapshots: Seq[(Long, Long, String)], currentId: Long,
      partitionCols: Seq[String] = Seq.empty,
      snapshotSchemaIds: Map[Long, Int] = Map.empty,
      ops: Map[Long, String] = Map.empty,
      partTransforms: Map[String, (String, String)] = Map.empty,
      fieldIdOverrides: Map[String, Int] = Map.empty): String = {
    require(schemaHistory.nonEmpty, s"$table: no schema to write")
    // overrides model a REAL rename: the spec keeps a renamed column's
    // field id, but assignFieldIds is first-seen-by-NAME and would
    // mint a fresh id for the new spelling
    val fieldIds = assignFieldIds(schemaHistory) ++ fieldIdOverrides
    val currentSid = schemaHistory.size - 1
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.nameUUIDFromBytes(
      table.toString.getBytes("UTF-8")).toString)
    root.put("location", table.toString)
    root.put("last-sequence-number",
      snapshots.map(_._1).maxOption.getOrElse(0L))
    root.put("last-column-id", fieldIds.values.maxOption.getOrElse(0))
    root.put("current-snapshot-id", currentId)
    root.put("current-schema-id", currentSid)
    val schemas = root.putArray("schemas")
    schemaHistory.zipWithIndex.foreach { case (schema, sid) =>
      val sc = schemas.addObject()
      sc.put("type", "struct")
      sc.put("schema-id", sid)
      val fields = sc.putArray("fields")
      schema.fields.foreach { f =>
        val fn = fields.addObject()
        fn.put("id", fieldIds(f.name)) // STABLE across the history
        fn.put("name", f.name)
        fn.put("required", !f.nullable)
        fn.put("type", icebergFieldType(f.dataType))
      }
    }
    val specs = root.putArray("partition-specs")
    val spec = specs.addObject()
    spec.put("spec-id", 0)
    val specFields = spec.putArray("fields")
    partitionCols.zipWithIndex.foreach { case (name, i) =>
      // non-identity transforms (days(ts), …) reference their SOURCE
      // column's field id; the partition field keeps the hive column's
      // name so tuple keys and read-side attach stay aligned
      val (transform, source) =
        partTransforms.getOrElse(name, ("identity", name))
      val sourceId = fieldIds.getOrElse(source,
        sys.error(s"$table: partition source column '$source' absent " +
          "from the table schema"))
      val pf = specFields.addObject()
      pf.put("name", name)
      pf.put("transform", transform)
      pf.put("source-id", sourceId)
      pf.put("field-id", 1000 + i) // the spec: partition field ids from 1000
    }
    root.put("default-spec-id", 0)
    val snaps = root.putArray("snapshots")
    snapshots.foreach { case (id, ts, ml) =>
      val sn = snaps.addObject()
      sn.put("snapshot-id", id)
      sn.put("sequence-number", id)
      sn.put("timestamp-ms", ts)
      sn.put("manifest-list", ml)
      sn.put("schema-id", snapshotSchemaIds.getOrElse(id, currentSid))
      ops.get(id).foreach(op => sn.putObject("summary").put("operation", op))
    }
    val slog = root.putArray("snapshot-log")
    snapshots.foreach { case (id, ts, _) =>
      val e = slog.addObject()
      e.put("snapshot-id", id)
      e.put("timestamp-ms", ts)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** FOREIGN-tree authoring (specs + the streaming fixture): append ONE
    * snapshot to a STOCK Iceberg metadata tree — no graft manifests
    * anywhere, so [[ForeignIcebergLog.isForeign]] holds. New manifests
    * carry the added data/delete files (status ADDED, entry sequences
    * left null — the native-writer shape, inherited from the list
    * entry); the previous snapshot's manifest-list entries re-list with
    * their original sequence numbers; a fresh `vN.metadata.json` +
    * version-hint land last (readers never see a half-written
    * snapshot). Snapshot ids double as sequence numbers (monotone from
    * 1), per-snapshot `summary.operation` records the op, timestamps
    * are deterministic minutes apart (timestampAsOf is testable).
    */
  private[graft] def appendForeignSnapshot(table: Path, schema: StructType,
      newData: Seq[String], newDeletes: Seq[String] = Seq.empty,
      operation: String = "append",
      newEqDeletes: Seq[String] = Seq.empty,
      equalityIds: Seq[Int] = Seq.empty,
      schemaHistory: Seq[StructType] = Seq.empty,
      bounds: Map[String, Map[Int, (Any, Any)]] = Map.empty,
      partitions: Map[String, Map[String, String]] = Map.empty,
      partitionCols: Seq[(String, DataType)] = Seq.empty,
      removedData: Seq[String] = Seq.empty,
      fieldIdOverrides: Map[String, Int] = Map.empty,
      partTransforms: Map[String, (String, String)] = Map.empty): Long = {
    Files.createDirectories(metadataDir(table))
    val prior: Seq[(Long, Long, String, String, Option[Int])] = // (id, ts, ml, op, sid)
      if (!Files.exists(metadataDir(table).resolve("version-hint.text")))
        Seq.empty
      else Option(readMetadata(table).get("snapshots"))
        .map(_.asScala.toSeq.map { s =>
          (s.get("snapshot-id").asLong(),
            Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L),
            s.get("manifest-list").asText(),
            Option(s.get("summary")).flatMap(n => Option(n.get("operation")))
              .map(_.asText()).getOrElse("append"),
            Option(s.get("schema-id")).map(_.asInt()))
        }).getOrElse(Seq.empty)
    val id = prior.map(_._1).maxOption.getOrElse(0L) + 1L
    val prevEntries: Seq[(String, Int, Long)] =
      prior.lastOption.map { case (_, _, ml, _, _) =>
        avroRecords(resolve(table, ml)).map(m =>
          (str(m, "manifest_path"), int(m, "content"),
            longOpt(m, "sequence_number")))
      }.getOrElse(Seq.empty)
    val mData =
      if (newData.isEmpty) None
      else Some(writeManifest(table, f"m-$id%03d-data.avro",
        newData.map((1, _)), bounds = bounds,
        partitions = partitions, partTypes = partitionCols))
    val mDel =
      if (newDeletes.isEmpty) None
      else Some(writeManifest(table, f"m-$id%03d-del.avro",
        newDeletes.map((1, _)), fileContent = 1))
    val mEqDel =
      if (newEqDeletes.isEmpty) None
      else Some(writeManifest(table, f"m-$id%03d-eqdel.avro",
        newEqDeletes.map((1, _)), fileContent = 2,
        equalityIds = equalityIds))
    // REMOVAL (the copy-on-write rewrite shape): compact the prior DATA
    // manifests into one manifest of the survivors (status EXISTING,
    // per-entry sequence numbers preserved — the spec's manifest-
    // compaction rule); delete manifests re-list untouched. Fixture
    // scope: survivor bounds/partition tuples are not re-carried.
    val keptPrev: Seq[(String, Int)] =
      if (removedData.isEmpty) prevEntries.map(e => (e._1, e._2))
      else {
        val survivors: Seq[(String, Long)] = prevEntries
          .filter(_._2 == 0).flatMap { case (mp, _, mSeq) =>
            avroRecords(resolve(table, mp)).flatMap { e =>
              if (int(e, "status") == 2) None
              else {
                val df = e.get("data_file").asInstanceOf[GenericRecord]
                val rel = str(df, "file_path")
                if (removedData.contains(rel)) None
                else Some(rel ->
                  longOptOf(e, "sequence_number").getOrElse(mSeq))
              }
            }
          }
        val compacted =
          if (survivors.isEmpty) None
          else Some(writeManifest(table, f"m-$id%03d-compact.avro",
            survivors.map(s => (0, s._1)), seqs = survivors.toMap))
        compacted.map((_, 0)).toSeq ++
          prevEntries.filter(_._2 == 1).map(e => (e._1, e._2))
      }
    val entries = keptPrev ++
      mData.map((_, 0)) ++ mDel.map((_, 1)) ++ mEqDel.map((_, 1))
    val seqs = prevEntries.map(e => e._1 -> e._3).toMap ++
      (mData.toSeq ++ mDel.toSeq ++ mEqDel.toSeq).map(_ -> id)
    val ml = writeManifestList(table, f"snap-$id%03d-list.avro", entries,
      id, seqs)
    val snaps = prior.map(p => (p._1, p._2, p._3)) :+
      ((id, 1700000000000L + id * 60000L, ml))
    val opsMap = prior.map(p => p._1 -> p._4).toMap + (id -> operation)
    // SCHEMA EVOLUTION (fixture support): pass the full history and the
    // NEW snapshot records the last entry's schema-id while prior
    // snapshots keep the ids their own metadata recorded — the shape a
    // stock writer leaves after ALTER TABLE. Default (empty history)
    // keeps the original single-schema behavior byte-stable.
    val history = if (schemaHistory.nonEmpty) schemaHistory else Seq(schema)
    val sids = prior.flatMap(p => p._5.map(p._1 -> _)).toMap +
      (id -> (history.size - 1))
    Files.writeString(metadataDir(table).resolve(s"v$id.metadata.json"),
      metadataJsonTs(table, history, snaps, id,
        partitionCols = partitionCols.map(_._1),
        snapshotSchemaIds = sids, ops = opsMap,
        partTransforms = partTransforms,
        fieldIdOverrides = fieldIdOverrides))
    Files.writeString(metadataDir(table).resolve("version-hint.text"),
      id.toString)
    id
  }

  /** Like [[writeDataFile]] but stamps PARQUET FIELD IDS into the
    * footer (the Iceberg spec mandates them in Iceberg-written files;
    * Spark's writer emits them from `parquet.field.id` schema
    * metadata) — the fixture twin of a stock writer's output, needed
    * wherever field-id resolution is under test. */
  private[graft] def writeDataFileWithIds(df: DataFrame, table: Path,
      name: String, ids: Map[String, Int]): String = {
    val annotated = df.select(df.columns.map { c =>
      ids.get(c) match {
        case Some(id) => col(c).as(c,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id.toLong).build())
        case None => col(c)
      }
    }.toSeq: _*)
    writeDataFile(annotated, table, name)
  }

  /** Write one parquet data file from `df`; returns its table-relative
    * path. */
  private[graft] def writeDataFile(df: DataFrame, table: Path, name: String): String = {
    val stage = Files.createTempDirectory(table, ".stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = listDir(stage).find(
      _.getFileName.toString.endsWith(".parquet")).get
    val rel = s"data/$name"
    Files.createDirectories(table.resolve("data"))
    Files.move(part, table.resolve(rel))
    listDir(stage).foreach(Files.deleteIfExists(_))
    Files.delete(stage)
    rel
  }

  /** The golden fixture tree: THREE event batches by id residue.
    *  - snapshot 1: batch0 ADDED (manifest m1);
    *  - snapshot 2: m1 re-listed (batch0 EXISTING + batch1 ADDED) plus
    *    m2 where batch2 was ADDED then a REWRITTEN m2' marks it
    *    DELETED — the live set is exactly batches {0, 1}, and only a
    *    reader that walks list → manifests → entry status correctly
    *    computes it.
    * version-hint.text points at v2; v1 stays for time travel.
    */
  private val staged = scala.collection.concurrent.TrieMap.empty[String, String]

  private[graft] def goldenTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"iceberg:$dir", {
      val table = graft.Scratch.dir("graft_iceberg")
      Files.createDirectories(metadataDir(table))
      val ev = Tables.events(spark, dir)
      val b0 = writeDataFile(ev.filter(pmod(col("event_id"), lit(3)) === 0), table, "b0.parquet")
      val b1 = writeDataFile(ev.filter(pmod(col("event_id"), lit(3)) === 1), table, "b1.parquet")
      val b2 = writeDataFile(ev.filter(pmod(col("event_id"), lit(3)) === 2), table, "b2.parquet")
      val schema = ev.schema
      // snapshot 1: batch0 added
      val m1v1 = writeManifest(table, "m1-s1.avro", Seq((1, b0)))
      val ml1 = writeManifestList(table, "snap-1-list.avro", Seq((m1v1, 0)), 1L)
      Files.writeString(metadataDir(table).resolve("v1.metadata.json"),
        metadataJson(table, schema, Seq((1L, ml1)), 1L))
      // snapshot 2: batch0 existing + batch1 added; batch2 added then
      // deleted in the rewritten second manifest
      val m1v2 = writeManifest(table, "m1-s2.avro", Seq((0, b0), (1, b1)))
      val m2v2 = writeManifest(table, "m2-s2.avro", Seq((2, b2)))
      val ml2 = writeManifestList(table, "snap-2-list.avro", Seq((m1v2, 0), (m2v2, 0)), 2L)
      Files.writeString(metadataDir(table).resolve("v2.metadata.json"),
        metadataJson(table, schema, Seq((1L, ml1), (2L, ml2)), 2L))
      Files.writeString(metadataDir(table).resolve("version-hint.text"), "2")
      table.toString
    })

  /** Events banded into 8 disjoint `event_id` ranges, one data file
    * per band, with the manifests carrying the spec-serialized
    * per-file lower/upper bounds for `event_id` (field id 1) — the
    * layout Iceberg's manifest-stats planning prunes on.
    */
  private[graft] def rangedTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"iceberg-ranged:$dir", {
      val table = graft.Scratch.dir("graft_iceberg_ranged")
      Files.createDirectories(metadataDir(table))
      val ev = Tables.events(spark, dir)
      val maxId = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val band = maxId / 8 + 1
      val entries = (0 until 8).map { b =>
        val part = ev.filter(col("event_id") >= b * band &&
          col("event_id") < (b + 1) * band)
        val rel = writeDataFile(part, table, f"band$b%02d.parquet")
        val mm = part.agg(min(col("event_id")), max(col("event_id"))).collect()(0)
        (rel, (mm.getLong(0), mm.getLong(1)))
      }
      // event_id is field id 1 in metadataJson's schema numbering
      val m = writeManifest(table, "m-ranged.avro",
        entries.map { case (rel, _) => (1, rel) },
        entries.map { case (rel, (lo, hi)) =>
          rel -> Map(1 -> ((lo: Any, hi: Any))) }.toMap)
      val ml = writeManifestList(table, "snap-1-list.avro", Seq((m, 0)), 1L)
      Files.writeString(metadataDir(table).resolve("v1.metadata.json"),
        metadataJson(table, ev.schema, Seq((1L, ml)), 1L))
      Files.writeString(metadataDir(table).resolve("version-hint.text"), "1")
      table.toString
    })

  /** One snapshot of two data files plus a POSITION-DELETE file (the
    * v2 row-level delete form): every row of the even batch whose
    * event_id is a multiple of 10 is named by (file_path, pos) in a
    * spec-shaped delete parquet, routed through a content-1 DELETE
    * manifest.
    */
  private[graft] def posDeleteTable(spark: SparkSession, dir: String,
      at: Option[Path] = None): String =
    staged.getOrElseUpdate(s"iceberg-posdel:$dir:${at.getOrElse("")}", {
      val table = at.getOrElse(graft.Scratch.dir("graft_iceberg_posdel"))
      Files.createDirectories(metadataDir(table))
      val ev = Tables.events(spark, dir)
      val b0 = writeDataFile(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        table, "b0.parquet")
      val b1 = writeDataFile(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        table, "b1.parquet")
      // the doomed rows' positions IN THE WRITTEN FILE, from the same
      // metadata columns the reader will join on
      val doomed = spark.read.parquet(table.resolve(b0).toString)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"), col("event_id"))
        .filter(pmod(col("event_id"), lit(10)) === 0)
        .select("file_path", "pos")
      val delRel = writeDataFile(doomed, table, "del0.parquet")
      val mData = writeManifest(table, "m-data.avro", Seq((1, b0), (1, b1)))
      val mDel = writeManifest(table, "m-del.avro", Seq((1, delRel)),
        fileContent = 1)
      val ml = writeManifestList(table, "snap-pd-list.avro",
        Seq((mData, 0), (mDel, 1)), 1L)
      Files.writeString(metadataDir(table).resolve("v1.metadata.json"),
        metadataJson(table, ev.schema, Seq((1L, ml)), 1L))
      Files.writeString(metadataDir(table).resolve("version-hint.text"), "1")
      table.toString
    })

  /** Tree with TWO OVERLAPPING position-delete files in one snapshot —
    * the stacked-DML shape [[compactPositionDeletes]] exists for:
    * del0 hides b0's %10 rows, del1 hides b0's %6 rows (overlap at %30,
    * so the compaction's dedup is exercised) plus b1's %15 rows. */
  private[graft] def stackedPosDeleteTable(spark: SparkSession, dir: String,
      at: Option[Path] = None): String =
    staged.getOrElseUpdate(s"iceberg-posdel2:$dir:${at.getOrElse("")}", {
      val table = at.getOrElse(graft.Scratch.dir("graft_iceberg_posdel2"))
      Files.createDirectories(metadataDir(table))
      val ev = Tables.events(spark, dir)
      val b0 = writeDataFile(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        table, "b0.parquet")
      val b1 = writeDataFile(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        table, "b1.parquet")
      def doomed(rel: String, mod: Int) =
        spark.read.parquet(table.resolve(rel).toString)
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"), col("event_id"))
          .filter(pmod(col("event_id"), lit(mod)) === 0)
          .select("file_path", "pos")
      val del0 = writeDataFile(doomed(b0, 10), table, "del0.parquet")
      val del1 = writeDataFile(doomed(b0, 6).unionByName(doomed(b1, 15)),
        table, "del1.parquet")
      val mData = writeManifest(table, "m-data.avro", Seq((1, b0), (1, b1)))
      val mDel0 = writeManifest(table, "m-del0.avro", Seq((1, del0)),
        fileContent = 1)
      val mDel1 = writeManifest(table, "m-del1.avro", Seq((1, del1)),
        fileContent = 1)
      val ml = writeManifestList(table, "snap-pd2-list.avro",
        Seq((mData, 0), (mDel0, 1), (mDel1, 1)), 1L)
      Files.writeString(metadataDir(table).resolve("v1.metadata.json"),
        metadataJson(table, ev.schema, Seq((1L, ml)), 1L))
      Files.writeString(metadataDir(table).resolve("version-hint.text"), "1")
      table.toString
    })

  /** [[stackedPosDeleteTable]]'s NATIVE-WRITER shape: sequence numbers
    * ride the manifest-LIST entries and the per-entry sequences are
    * left NULL — what real Iceberg writers produce for same-snapshot
    * entries (the spec's inheritance rule). Data manifest at sequence
    * 1, the two stacked delete manifests at sequences 2 and 3 — so the
    * compacted delete file must land at sequence 3 via inheritance;
    * a 0-defaulted sequence would drop below the data sequence and
    * resurrect every deleted row. */
  private[graft] def nativeSeqPosDeleteTable(spark: SparkSession,
      dir: String): String = {
    val table = Files.createTempDirectory("graft_iceberg_posdel_seq")
    Files.createDirectories(metadataDir(table))
    val ev = Tables.events(spark, dir)
    val b0 = writeDataFile(ev.filter(pmod(col("event_id"), lit(2)) === 0),
      table, "b0.parquet")
    val b1 = writeDataFile(ev.filter(pmod(col("event_id"), lit(2)) === 1),
      table, "b1.parquet")
    def doomed(rel: String, mod: Int) =
      spark.read.parquet(table.resolve(rel).toString)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.row_index").as("pos"), col("event_id"))
        .filter(pmod(col("event_id"), lit(mod)) === 0)
        .select("file_path", "pos")
    val del0 = writeDataFile(doomed(b0, 10), table, "del0.parquet")
    val del1 = writeDataFile(doomed(b0, 6).unionByName(doomed(b1, 15)),
      table, "del1.parquet")
    // NO per-entry seqs anywhere: inheritance is the only source
    val mData = writeManifest(table, "m-data.avro", Seq((1, b0), (1, b1)))
    val mDel0 = writeManifest(table, "m-del0.avro", Seq((1, del0)),
      fileContent = 1)
    val mDel1 = writeManifest(table, "m-del1.avro", Seq((1, del1)),
      fileContent = 1)
    val ml = writeManifestList(table, "snap-pdseq-list.avro",
      Seq((mData, 0), (mDel0, 1), (mDel1, 1)), 1L,
      seqs = Map(mData -> 1L, mDel0 -> 2L, mDel1 -> 3L))
    Files.writeString(metadataDir(table).resolve("v1.metadata.json"),
      metadataJson(table, ev.schema, Seq((1L, ml)), 1L))
    Files.writeString(metadataDir(table).resolve("version-hint.text"), "1")
    table.toString
  }

  /** The stacked tree COMPACTED — the oracle query's fixture. */
  private[graft] def compactedPosDeleteTable(spark: SparkSession,
      dir: String): String =
    staged.getOrElseUpdate(s"iceberg-posdelc:$dir", {
      val t = stackedPosDeleteTable(spark, dir,
        at = Some(graft.Scratch.dir("graft_iceberg_posdelc")))
      val (before, after) = compactPositionDeletes(spark, t)
      require(before == 2 && after == 1,
        s"compaction must coalesce 2 delete files to 1, got $before -> $after")
      t
    })

  /** Oracle-checked position-delete COMPACTION: after coalescing the
    * two overlapping delete files into one, the snapshot must
    * aggregate exactly the same survivor set — a row resurrected by a
    * lost delete pair, double-hidden overlap handled wrong, or a
    * sequence mishandled on the merged file all flip the hash. */
  def posDeleteCompactQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, compactedPosDeleteTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val posDeleteCompactQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |WHERE NOT (event_id % 2 = 0 AND (event_id % 10 = 0 OR event_id % 6 = 0))
      |  AND NOT (event_id % 2 = 1 AND event_id % 15 = 0)
      |GROUP BY 1""".stripMargin

  /** EQUALITY-delete fixture with real sequence-number semantics:
    * b0 lands at sequence 1, an equality delete on `event_type` (field
    * id 4) at sequence 2, b1 at sequence 3 — so the delete hides the
    * named type's rows from b0 ONLY (strictly-older rule); b1's rows
    * of the same type survive, the CDC upsert shape the file form
    * exists for.
    */
  private[graft] def eqDeleteTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"iceberg-eqdel:$dir", {
      val table = graft.Scratch.dir("graft_iceberg_eqdel")
      Files.createDirectories(metadataDir(table))
      val ev = Tables.events(spark, dir)
      val b0 = writeDataFile(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        table, "b0.parquet")
      val b1 = writeDataFile(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        table, "b1.parquet")
      val delRel = writeDataFile(
        ev.select("event_type").filter(col("event_type") === "error").limit(1),
        table, "eqdel0.parquet")
      val mData = writeManifest(table, "m-data.avro", Seq((1, b0), (1, b1)),
        seqs = Map(b0 -> 1L, b1 -> 3L))
      // event_type is field id 4 in metadataJson's 1-based numbering
      val mDel = writeManifest(table, "m-eqdel.avro", Seq((1, delRel)),
        fileContent = 2, seqs = Map(delRel -> 2L), equalityIds = Seq(4))
      val ml = writeManifestList(table, "snap-eq-list.avro",
        Seq((mData, 0), (mDel, 1)), 1L)
      Files.writeString(metadataDir(table).resolve("v1.metadata.json"),
        metadataJson(table, ev.schema, Seq((1L, ml)), 1L))
      Files.writeString(metadataDir(table).resolve("version-hint.text"), "1")
      table.toString
    })

  /** Oracle-checked equality-delete application: 'error' rows vanish
    * from the sequence-1 batch but SURVIVE in the sequence-3 batch —
    * only a reader honoring both the equality join and the
    * strictly-older sequence rule matches the oracle's residue split.
    */
  def eqDeleteQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, eqDeleteTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val eqDeleteQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |WHERE NOT (event_id % 2 = 0 AND event_type = 'error')
      |GROUP BY 1""".stripMargin

  /** Oracle-checked position-delete application: the snapshot must
    * aggregate the corpus MINUS exactly the (file, pos)-named rows —
    * resurrecting any deleted row, or hiding a row a delete never
    * named, flips the hash.
    */
  def posDeleteQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, posDeleteTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val posDeleteQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id % 10 <> 0
      |GROUP BY 1""".stripMargin

  /** Oracle-checked manifest-stats skipping: a tight `event_id` range
    * over the banded table must aggregate exactly — while reading only
    * the bands whose bounds intersect the range (prune counts are
    * spec-asserted via [[lastSkipScan]]).
    */
  def skippingQuery(spark: SparkSession, dir: String): DataFrame =
    skipScan(spark, rangedTable(spark, dir),
      Seq(("event_id", 100L, 5000L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val skippingQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id BETWEEN 100 AND 5000
      |GROUP BY 1""".stripMargin

  /** Oracle-checked read of the golden Iceberg tree: the current
    * snapshot must aggregate EXACTLY batches {0,1} — resurrecting the
    * DELETED batch2, missing the EXISTING re-listing, or reading the
    * stale v1 metadata all flip the hash.
    */
  def snapshotQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, goldenTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val snapshotQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id % 3 < 2
      |GROUP BY 1""".stripMargin

  /** A copy of the golden tree with snapshot 1 EXPIRED
    * ([[expireSnapshots]]) — retains the orphan count so the query can
    * pin the accounting. The golden tree's snapshot 1 privately owns
    * its manifest-list and manifest m1-s1 (snapshot 2 re-lists b0
    * through a NEW manifest), so exactly 2 files orphan. */
  private[graft] def expireTable(spark: SparkSession, dir: String): (String, Int) =
    stagedExpire.getOrElseUpdate(s"iceberg-expire:$dir", {
      val src = Paths.get(goldenTable(spark, dir))
      val table = graft.Scratch.dir("graft_iceberg_expire")
      Files.walk(src).iterator().asScala.foreach { p =>
        val d = table.resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(d)
        else Files.copy(p, d,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      // golden commit timestamps are 1700000000000 + id
      val (expired, orphans) = expireSnapshots(
        table.toString, olderThanMillis = 1700000000002L, retainLast = 1)
      require(expired == Seq(1L),
        s"golden expiry must drop exactly snapshot 1, got $expired")
      (table.toString, orphans.size)
    })

  private val stagedExpire =
    scala.collection.concurrent.TrieMap.empty[String, (String, Int)]

  /** Oracle-checked read AFTER snapshot expiration: the rewritten
    * metadata must still resolve the retained snapshot to exactly
    * batches {0,1}, and the orphan accounting must name exactly the 2
    * files (manifest-list + manifest) only the expired snapshot
    * reached — the shared data file b0 orphaning would read 3 here.
    */
  def expireQuery(spark: SparkSession, dir: String): DataFrame = {
    val (table, orphans) = expireTable(spark, dir)
    snapshot(spark, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .withColumn("orphans", lit(orphans.toLong))
  }

  val expireQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
      |       CAST(2 AS BIGINT) AS orphans
      |FROM events WHERE event_id % 3 < 2
      |GROUP BY 1""".stripMargin

  // ------------------------------------------- UniForm-style MIRROR
  //
  // Write side: materialize a TxLog table's commit history as an
  // Apache Iceberg v2 metadata tree in the SAME directory — one copy
  // of the data, two protocol views (the Delta mirror, DeltaLog
  // header doc, is the same symmetry in the other direction; stock
  // Delta calls the pattern UniForm). After [[mirror]] the dir is
  // readable through [[snapshot]]/[[snapshotAt]]/[[snapshotAsOf]] or
  // any spec-conformant Iceberg reader.

  /** One live data-file entry as the mirror tracks it across
    * incremental runs: data sequence number = the TxLog version that
    * added the file (rewrites preserve it), bounds as the spec's
    * single-value-serialized bytes keyed by field id.
    */
  private final case class MirrorEntry(rel: String, seq: Long,
      recordCount: Long, sizeBytes: Long,
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      partition: Seq[(String, String)] = Seq.empty)

  /** Hive `col=value` segments of a manifest-relative path, unescaped
    * (the TxLog writer's layout). */
  private def hiveSegments(rel: String): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    rel.split("/").dropRight(1).toSeq.filter(_.contains("="))
      .map { seg =>
        val i = seg.indexOf('=')
        val v = seg.drop(i + 1)
        (unescapePathName(seg.take(i)),
          if (v == "__HIVE_DEFAULT_PARTITION__") null else unescapePathName(v))
      }
  }

  /** Identity-partition types the mirror writes natively into avro
    * partition tuples (and bounds); anything else refuses loudly.
    * DATE serializes as the spec's `int` epoch days, TIMESTAMP as
    * `long` epoch micros (Appendix D single-value serialization). */
  private def partAvroType(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case DoubleType => "double"
    case BooleanType => "boolean"
    case StringType => "string"
    case DateType => "int"
    case TimestampType => "long"
    case other => sys.error(s"iceberg mirror: unsupported partition-column " +
      s"type $other — identity transforms on " +
      "long/int/double/boolean/string/date/timestamp only")
  }

  private def partTypedValue(v: String, dt: DataType): Any =
    if (v == null) null else dt match {
      case LongType => java.lang.Long.valueOf(v)
      case IntegerType => java.lang.Integer.valueOf(v)
      case DoubleType => java.lang.Double.valueOf(v)
      case BooleanType => java.lang.Boolean.valueOf(v)
      // hive segments render dates `yyyy-MM-dd` and timestamps
      // `yyyy-MM-dd HH:mm:ss[.f]` in the (UTC-pinned) session zone;
      // the spec serializes them as epoch days / UTC epoch micros.
      // An all-digits value is ALREADY serialized — a mirror RESUME
      // rebuilds live entries from the prior avro tuples, whose
      // stringified form is the epoch number, and re-parsing it as a
      // calendar string would crash the next rewrite compaction.
      case DateType =>
        java.lang.Integer.valueOf(v.toIntOption.getOrElse(
          java.time.LocalDate.parse(v).toEpochDay.toInt))
      case TimestampType =>
        java.lang.Long.valueOf(v.toLongOption.getOrElse {
          val i = java.time.LocalDateTime
            .parse(v.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC)
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        })
      case _ => v
    }

  /** Iceberg bound bytes from one side of a Delta-stats JSON value,
    * by Spark type. String minima may be stats-truncated prefixes —
    * still sound LOWER bounds (truncation only lowers them); absent
    * values (stats caps, exotic types) yield no bound, which never
    * prunes. Timestamps: ISO instant → micros; dates → epoch days.
    */
  private def encodeStatsBound(j: JsonNode, dt: DataType): Option[Array[Byte]] =
    try dt match {
      case LongType => Some(encodeBound(j.asLong()))
      case IntegerType => Some(encodeBound(j.asInt()))
      case DoubleType => Some(encodeBound(j.asDouble()))
      case FloatType => Some(encodeBound(j.asDouble().toFloat))
      case StringType => Some(encodeBound(j.asText()))
      case DateType => Some(encodeBound(
        java.time.LocalDate.parse(j.asText()).toEpochDay.toInt))
      case TimestampType | TimestampNTZType =>
        val inst = java.time.Instant.parse(j.asText())
        Some(encodeBound(inst.getEpochSecond * 1000000L + inst.getNano / 1000L))
      case BooleanType => Some(Array[Byte](if (j.asBoolean()) 1 else 0))
      case _ => None
    } catch { case _: Exception => None } // unparsable stat: no bound

  /** Footer-derived entry for a file ADDED at `seq` — the same footer
    * walk the Delta mirror's add.stats ride ([[DeltaLog.fileStats]]),
    * re-encoded as spec bounds. O(1) footer read per ADDED file only.
    */
  private def entryFromFooter(table: Path, rel: String, seq: Long,
      schema: StructType, ids: Map[String, Int]): MirrorEntry = {
    val f = table.resolve(rel)
    val size = if (Files.exists(f)) Files.size(f) else 0L
    DeltaLog.fileStats(f).map { js =>
      val node = mapper.readTree(js)
      def side(key: String): Map[Int, Array[Byte]] =
        Option(node.get(key)).map { mv =>
          schema.fields.flatMap { fd =>
            Option(mv.get(fd.name))
              .flatMap(encodeStatsBound(_, fd.dataType))
              .map(b => ids(fd.name) -> b)
          }.toMap
        }.getOrElse(Map.empty)
      MirrorEntry(rel, seq, node.get("numRecords").asLong(), size,
        side("minValues") ++ partBounds(rel, schema, ids),
        side("maxValues") ++ partBounds(rel, schema, ids), hiveSegments(rel))
    }.getOrElse(MirrorEntry(rel, seq, 0L, size,
      partBounds(rel, schema, ids), partBounds(rel, schema, ids),
      hiveSegments(rel)))
  }

  /** Identity-partition bounds: a hive file's partition value is
    * constant across its rows, so lower = upper = the value — the
    * manifest stats [[skipScan]] prunes on then cover partition-column
    * predicates for free (footer stats can't: the column is not IN the
    * file). Unencodable values just contribute no bound. */
  private def partBounds(rel: String, schema: StructType,
      ids: Map[String, Int]): Map[Int, Array[Byte]] =
    hiveSegments(rel).flatMap { case (name, v) =>
      schema.fields.collectFirst {
        case f if f.name == name && v != null =>
          scala.util.Try(encodeBound(partTypedValue(v, f.dataType)))
            .toOption.map(ids(f.name) -> _)
      }.flatten
    }.toMap

  /** One mirror manifest avro: full entries with explicit per-entry
    * data sequence numbers, record counts, and raw-byte bounds
    * (reused verbatim on compaction rewrites — no footer re-reads).
    */
  private def writeMirrorManifest(table: Path, name: String,
      entries: Seq[(Int, MirrorEntry)],
      partCols: Seq[(String, DataType)] = Seq.empty,
      fileContent: Int = 0): String = {
    val entrySchema = mirrorEntrySchema(partCols)
    val dfSchema = entrySchema.getField("data_file").schema()
    val kvSchema = dfSchema.getField("lower_bounds").schema()
      .getTypes.asScala.find(_.getType == Schema.Type.ARRAY).get
    def kvArray(m: Map[Int, Array[Byte]]): java.util.List[GenericRecord] =
      m.toSeq.sortBy(_._1).map { case (id, b) =>
        val r = new GenericData.Record(kvSchema.getElementType)
        r.put("key", id)
        r.put("value", java.nio.ByteBuffer.wrap(b))
        r: GenericRecord
      }.asJava
    val recs = entries.map { case (status, me) =>
      val dataFile = new GenericData.Record(dfSchema)
      dataFile.put("content", fileContent)
      dataFile.put("file_path", me.rel)
      dataFile.put("file_format", "PARQUET")
      dataFile.put("record_count", me.recordCount)
      dataFile.put("file_size_in_bytes", me.sizeBytes)
      if (partCols.nonEmpty) {
        val pr = new GenericData.Record(dfSchema.getField("partition").schema())
        val byName = me.partition.toMap
        partCols.foreach { case (n, dt) =>
          pr.put(n, partTypedValue(byName.getOrElse(n, null), dt))
        }
        dataFile.put("partition", pr)
      }
      if (me.lower.nonEmpty) dataFile.put("lower_bounds", kvArray(me.lower))
      if (me.upper.nonEmpty) dataFile.put("upper_bounds", kvArray(me.upper))
      val e = new GenericData.Record(entrySchema)
      e.put("status", status)
      e.put("sequence_number", Long.box(me.seq))
      e.put("data_file", dataFile)
      e: GenericRecord
    }
    val rel = s"metadata/$name"
    writeAvro(table.resolve(rel), entrySchema, recs)
    rel
  }

  /** Mirror the TxLog table at `dir` as an Iceberg v2 tree, up to its
    * current version. Incremental and metadata-scale:
    *
    *  - resumes from the existing tree's `current-snapshot-id`
    *    (snapshot ids ARE TxLog versions);
    *  - an APPEND commit writes ONE manifest holding just its added
    *    files (footer-read O(added)); prior manifests are re-listed in
    *    the new manifest-list untouched — Iceberg's own fast-append;
    *  - a commit WITH removals compacts the live set into ONE manifest
    *    (Iceberg's manifest-compaction shape on rewrites), REUSING the
    *    tracked per-entry sequence numbers and raw bounds — rewritten
    *    files keep the data sequence number of the commit that added
    *    their rows' current file, no footer re-reads;
    *  - ONE metadata JSON is written per mirror() call (all snapshots,
    *    real commit timestamps, snapshot-log), so catch-up over many
    *    versions costs one tree walk, not one json per version.
    *
    * Returns the current snapshot id. Hive-partitioned layouts mirror
    * with an IDENTITY partition spec: per-entry `partition` tuples
    * (typed from the path segments), spec fields at ids 1000+, and
    * identity bounds (lower = upper = the value) so manifest-stats
    * skipping prunes partition predicates too; the read side attaches
    * the tuple values back, since hive data files do not CONTAIN their
    * partition columns. Unsupported partition-column types (anything
    * beyond long/int/double/boolean/string) refuse loudly rather than
    * mirror wrong.
    */
  def mirror(spark: SparkSession, dir: String): Long = {
    val table = Paths.get(dir)
    val cur = TxLog.currentVersion(dir).getOrElse(
      sys.error(s"$dir: no committed TxLog version to mirror"))
    Files.createDirectories(metadataDir(table))
    val hint = metadataDir(table).resolve("version-hint.text")
    val prior = if (Files.exists(hint)) Some(readMetadata(table)) else None
    val from = prior.map(_.get("current-snapshot-id").asLong()).getOrElse(0L)
    if (from >= cur) return from
    var snaps: Seq[(Long, Long, String)] = prior.map { p =>
      Option(p.get("snapshots")).map(_.asScala.toSeq.map(s =>
        (s.get("snapshot-id").asLong(),
          Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L),
          s.get("manifest-list").asText()))).getOrElse(Seq.empty)
    }.getOrElse(Seq.empty)
    // the latest mirrored snapshot's manifests + live entries (resume),
    // split by content: data manifests rebuild the live map, a DELETE
    // manifest (the DV translation below) carries forward as-is
    val priorMls: Seq[(String, Int)] = snaps.lastOption.map {
      case (_, _, ml) => avroRecords(resolve(table, ml)).map(m =>
        (str(m, "manifest_path"), int(m, "content")))
    }.getOrElse(Seq.empty)
    var manifests: Seq[String] = priorMls.collect { case (p, 0) => p }
    var deleteManifest: Option[String] =
      priorMls.collectFirst { case (p, 1) => p }
    val live = scala.collection.mutable.LinkedHashMap.empty[String, MirrorEntry]
    manifests.foreach { mp =>
      avroRecords(resolve(table, mp)).foreach { e =>
        if (int(e, "status") != 2) {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val rel = str(df, "file_path")
          live(rel) = MirrorEntry(rel,
            longOptOf(e, "sequence_number").getOrElse(0L),
            longOpt(df, "record_count"), longOpt(df, "file_size_in_bytes"),
            boundsOf(df, "lower_bounds"), boundsOf(df, "upper_bounds"),
            partitionOf(df).toSeq)
        }
      }
    }
    var lastDvs: Map[String, String] =
      if (from <= 0) Map.empty else TxLog.readManifest(table, from).dvs
    // SCHEMA HISTORY: each snapshot records the schema-id in force at
    // its commit (the Delta mirror's version-accurate metaData), so
    // Iceberg time travel types pre-evolution snapshots by their OWN
    // schema — not the current one, which would surface columns that
    // did not exist yet. Field ids are first-seen-stable across the
    // history (assignFieldIds), the spec's evolution invariant. Resume
    // rebuilds the history from the prior metadata's schemas array.
    var schemaHistory: Seq[StructType] = prior.map { p =>
      Option(p.get("schemas")).map(_.asScala.toSeq
        .sortBy(int2(_, "schema-id")).zipWithIndex.map { case (_, sid) =>
          currentSchema(p, Some(sid)).getOrElse(sys.error(
            s"$dir: prior mirror schema $sid does not round-trip"))
        }).getOrElse(Seq.empty)
    }.getOrElse(Seq.empty)
    var snapSchemaIds: Map[Long, Int] = prior.map { p =>
      Option(p.get("snapshots")).map(_.asScala.toSeq.map(s =>
        s.get("snapshot-id").asLong() -> int2(s, "schema-id")).toMap)
        .getOrElse(Map.empty[Long, Int])
    }.getOrElse(Map.empty)
    // schemas compare ALL-NULLABLE: the Delta schemaString and the
    // TxLog snapshot schema can disagree on nullability flavor for the
    // same physical schema, and a spurious mismatch would mint a
    // duplicate schema id per mirror run
    def nrm(s: StructType) = StructType(s.fields.map(_.copy(nullable = true)))
    schemaHistory = schemaHistory.map(nrm)
    val schema = nrm(TxLog.snapshot(spark, dir).schema)
    // identity partition spec from the hive layout (TxLog fixes the
    // partitioning at the first commit, so the CURRENT manifest's
    // layout governs the whole history); types validated up front
    val partCols: Seq[(String, DataType)] =
      TxLog.liveRelsAt(dir, cur).headOption.map(hiveSegments(_).map(_._1))
        .getOrElse(Seq.empty)
        .map { n =>
          val f = schema.fields.find(_.name == n).getOrElse(
            sys.error(s"$dir: partition column '$n' absent from schema"))
          partAvroType(f.dataType) // refuses unsupported types loudly
          (n, f.dataType)
        }
    // the `days(ts)` transform: a DATE partition column GENERATED as
    // `CAST(<ts> AS DATE)` of a timestamp column IS Iceberg's days
    // transform (same value domain — epoch days of the UTC timestamp),
    // so the spec records it as such and any spec-conformant planner
    // can derive the partition from `ts` predicates directly; the tuple
    // values and identity bounds are unchanged. Everything else stays
    // an identity transform on itself.
    val metaSchema = DeltaLog.currentSchemaString(table)
      .map(js => DataType.fromJson(js).asInstanceOf[StructType])
      .getOrElse(schema)
    val DaysGen =
      """(?i)\s*cast\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s+as\s+date\s*\)\s*""".r
    // the graft_iceberg_* generation expressions ARE the transforms'
    // value domains ([[graft.functions.IcebergTransforms]] — spec
    // Appendix B bucket hash, Appendix "Partition Transforms"
    // truncate/hours/months/years), so recognizing them records the
    // real transform spec with tuple values and identity bounds
    // unchanged — exactly the days(ts) move, widened to the family
    val BucketGen =
      """(?i)\s*graft_iceberg_bucket\s*\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*""".r
    val TruncGen =
      """(?i)\s*graft_iceberg_truncate\s*\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*""".r
    val TemporalGen =
      """(?i)\s*graft_iceberg_(hours|months|years)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*""".r
    def srcTyped(src: String, ok: DataType => Boolean): Boolean =
      metaSchema.fields.exists(f => f.name == src && ok(f.dataType))
    val partTransforms: Map[String, (String, String)] =
      partCols.flatMap { case (n, dt) =>
        metaSchema.fields.find(_.name == n)
          .filter(_.metadata.contains("delta.generationExpression"))
          .map(_.metadata.getString("delta.generationExpression")) match {
          case Some(DaysGen(src)) if dt == DateType &&
              srcTyped(src, _ == TimestampType) =>
            Some(n -> (("days", src)))
          case Some(BucketGen(w, src)) if dt == IntegerType &&
              srcTyped(src, t => t == IntegerType || t == LongType ||
                t == DateType || t == TimestampType || t == StringType) =>
            Some(n -> ((s"bucket[$w]", src)))
          case Some(TruncGen(w, src)) if srcTyped(src, _ == dt) &&
              (dt == IntegerType || dt == LongType || dt == StringType) =>
            Some(n -> ((s"truncate[$w]", src)))
          case Some(TemporalGen(unit, src)) if dt == IntegerType &&
              srcTyped(src, t => t == TimestampType ||
                (t == DateType && unit.toLowerCase != "hours")) =>
            Some(n -> ((unit.toLowerCase, src)))
          case _ => None
        }
      }.toMap
    for (v <- (from + 1) to cur) {
      val (added, removed) = TxLog.commitDelta(dir, v)
      val vSchema = nrm(DeltaLog.mirroredSchemaAt(spark, table, v - 1)
        .getOrElse(schema))
      val sid = schemaHistory.indexOf(vSchema) match {
        case -1 => schemaHistory :+= vSchema; schemaHistory.size - 1
        case i => i
      }
      snapSchemaIds += v -> sid
      val ids = assignFieldIds(schemaHistory)
      val newEntries = added.map(rel =>
        entryFromFooter(table, rel, v, vSchema, ids))
      if (removed.isEmpty) {
        // fast-append: one manifest of just this commit's files
        if (newEntries.nonEmpty) {
          manifests :+= writeMirrorManifest(table, s"mirror-m-$v.avro",
            newEntries.map((1, _)), partCols)
        }
        newEntries.foreach(e => live(e.rel) = e)
      } else {
        // rewrite: compact the live set to one manifest, seqs preserved
        removed.foreach(live.remove)
        newEntries.foreach(e => live(e.rel) = e)
        manifests = Seq(writeMirrorManifest(table, s"mirror-m-$v.avro",
          live.values.toSeq.map(e => (if (e.seq == v) 1 else 0, e)), partCols))
      }
      // DELETION VECTORS translate to the spec's POSITION-DELETE form:
      // Iceberg has no DV concept, so a commit whose `#dv` headers
      // changed writes one delete parquet holding the FULL hidden
      // (file_path, pos) set at this version (TxLog DV headers are
      // cumulative unions, so one file replaces the previous), routed
      // through a content-1 DELETE manifest at sequence v — the
      // reader's `dataSeq <= deleteSeq` rule then hides exactly the
      // DV'd rows and spares later appends. Without this, the Iceberg
      // view of a DV table would RESURRECT every deleted row.
      val dvNow = TxLog.readManifest(table, v).dvs
      if (dvNow != lastDvs) {
        deleteManifest =
          if (dvNow.isEmpty) None // OPTIMIZE materialized the deletes
          else {
            // `file_path` is table-relative, the spelling the data
            // entries use: an absolute one would keep naming the files
            // of the ORIGINAL root after the tree is copied or moved,
            // and the copy's deleted rows would come back
            val rows = dvNow.toSeq.sortBy(_._1).flatMap { case (rel, json) =>
              DeletionVectors.parse(DeletionVectors.readBytes(table,
                DeletionVectors.parseDescriptor(json))).values
                .map(p => (rel, p)).toSeq
            }
            import spark.implicits._
            val delRel = writeDataFile(
              rows.toDF("file_path", "pos"), table, s"mirror-del-$v.parquet")
            val delEntry = MirrorEntry(delRel, v, rows.size.toLong,
              Files.size(table.resolve(delRel)), Map.empty, Map.empty)
            Some(writeMirrorManifest(table, s"mirror-md-$v.avro",
              Seq((1, delEntry)), fileContent = 1))
          }
        lastDvs = dvNow
      }
      val ts = math.max(
        snaps.lastOption.map(_._2).getOrElse(0L),
        Files.getLastModifiedTime(TxLog.manifestPath(table, v)).toMillis)
      val ml = writeManifestList(table, s"mirror-ml-$v.avro",
        manifests.map((_, 0)) ++ deleteManifest.map((_, 1)), v)
      snaps :+= ((v, ts, ml))
    }
    // the CURRENT schema must close the history (current-schema-id is
    // the last entry): append it even if an earlier id matches, so a
    // revert re-registers rather than mispoints
    if (schemaHistory.isEmpty || schemaHistory.last != schema)
      schemaHistory :+= schema
    Files.writeString(metadataDir(table).resolve(s"v$cur.metadata.json"),
      metadataJsonTs(table, schemaHistory, snaps, cur, partCols.map(_._1),
        snapSchemaIds, partTransforms = partTransforms))
    Files.writeString(hint, cur.toString)
    cur
  }

  /** TxLog table MIRRORED to Iceberg: two appended batches, a
    * copy-on-write DELETE (a removal commit — the mirror's compaction
    * path), a third batch appended AFTER it (the fast-append path on
    * top of a compacted manifest), then [[mirror]]. The query reads
    * the ICEBERG view of the engine-written tree.
    */
  private[graft] def mirrorTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"iceberg-mirror:$dir", {
      val table = graft.Scratch.dir("graft_iceberg_mirror").toString
      val ev = Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 0), table)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 1), table)
      TxLog.deleteWhere(spark, table, pmod(col("event_id"), lit(7)) === 3)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(3)) === 2), table)
      mirror(spark, table)
      table
    })

  /** Oracle-checked read-back of the ENGINE-WRITTEN Iceberg tree: the
    * mirrored snapshot must aggregate exactly the TxLog state — rows
    * deleted before the mirror resurrected, the post-delete batch
    * dropped, or a stale manifest re-listed all flip the hash.
    */
  def mirrorQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, mirrorTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val mirrorQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |WHERE event_id % 3 = 2 OR event_id % 7 <> 3
      |GROUP BY 1""".stripMargin

  /** PARTITIONED TxLog table (hive layout by `event_type`) mirrored to
    * Iceberg: two appends, a copy-on-write DELETE (compaction path),
    * then [[mirror]] — the tree carries the identity partition spec,
    * per-entry partition tuples, and identity bounds. */
  private[graft] def partMirrorTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"iceberg-pmirror:$dir", {
      val table = graft.Scratch.dir("graft_iceberg_pmirror").toString
      val ev = Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        table, partitionBy = Seq("event_type"))
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        table, partitionBy = Seq("event_type"))
      TxLog.deleteWhere(spark, table, pmod(col("event_id"), lit(5)) === 2)
      mirror(spark, table)
      table
    })

  /** Oracle-checked read of the engine-written PARTITIONED Iceberg
    * tree, grouped BY THE PARTITION COLUMN: hive data files do not
    * contain `event_type`, so every group key in this result came from
    * the manifest partition tuples — a missed attach nulls the keys, a
    * crossed file→tuple mapping scrambles the groups, and either flips
    * the hash. */
  def partMirrorQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, partMirrorTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val partMirrorQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE event_id % 5 <> 2
      |GROUP BY 1""".stripMargin

  /** DATE-partitioned TxLog table (hive layout by the GENERATED column
    * `event_day` = CAST(ts AS DATE)) mirrored to Iceberg: the tree
    * carries a `days(ts)` TRANSFORM spec (the most common real Iceberg
    * partitioning), date tuple values as spec `int` epoch days, and
    * identity bounds on the generated column so manifest-stats
    * skipping prunes the partition dimension. */
  private[graft] def daysMirrorTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"iceberg-daysmirror:$dir", {
      val table = graft.Scratch.dir("graft_iceberg_daysmirror").toString
      val ev = Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(col("event_id") < 400)
          .withColumn("event_day", col("ts").cast("date")),
        table, partitionBy = Seq("event_day"))
      TxLog.setGenerationExpression(spark, table,
        "event_day", "CAST(ts AS DATE)")
      // later batches omit the column — it generates at write
      TxLog.commitAppend(ev.filter(col("event_id") >= 400), table,
        partitionBy = Seq("event_day"))
      mirror(spark, table)
      table
    })

  /** Oracle-checked read of the engine-written DAYS-partitioned Iceberg
    * tree, grouped BY THE DATE PARTITION COLUMN: hive data files do not
    * contain `event_day`, so every group key came from an `int`
    * epoch-days tuple — a missed attach nulls the keys, a
    * string-attach bug (casting "19723" to date) nulls them too, and
    * either flips the hash. */
  def daysMirrorQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, daysMirrorTable(spark, dir))
      .groupBy(col("event_day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val daysMirrorQueryOracle: String =
    """SELECT CAST(ts AS DATE) AS event_day, count(*) AS n,
      |       round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1""".stripMargin

  /** TxLog table partitioned by TWO generated transform columns —
    * `uid_bucket = graft_iceberg_bucket(8, user_id)` (the Flink-style
    * upsert-distribution key) and `etype_pfx =
    * graft_iceberg_truncate(2, event_type)` — mirrored to Iceberg: the
    * tree carries REAL `bucket[8]` and `truncate[2]` transform specs
    * referencing the SOURCE columns' field ids, int/string tuple
    * values, and identity bounds on the generated columns. */
  private[graft] def transformMirrorTable(spark: SparkSession,
      dir: String): String =
    staged.getOrElseUpdate(s"iceberg-tmirror:$dir", {
      val table = graft.Scratch.dir("graft_iceberg_tmirror").toString
      val ev = Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(col("event_id") < 400)
          .withColumn("uid_bucket",
            expr("graft_iceberg_bucket(8, user_id)"))
          .withColumn("etype_pfx",
            expr("graft_iceberg_truncate(2, event_type)")),
        table, partitionBy = Seq("uid_bucket", "etype_pfx"))
      TxLog.setGenerationExpression(spark, table,
        "uid_bucket", "graft_iceberg_bucket(8, user_id)")
      TxLog.setGenerationExpression(spark, table,
        "etype_pfx", "graft_iceberg_truncate(2, event_type)")
      // later batches omit both columns — they generate at write
      TxLog.commitAppend(ev.filter(col("event_id") >= 400), table,
        partitionBy = Seq("uid_bucket", "etype_pfx"))
      mirror(spark, table)
      table
    })

  /** Oracle-checked BUCKET-pruned read: the skip-scan carries a
    * `user_id = 7` equality predicate, which prunes via the `bucket[8]`
    * tuples (the hash destroys order, so ONLY the transform — not
    * min/max bounds alone — can prove most files disjoint on a
    * multi-user file). A wrongly-pruned file loses rows and flips the
    * hash; the spec asserts the prune count. */
  def bucketMirrorQuery(spark: SparkSession, dir: String): DataFrame =
    skipScan(spark, transformMirrorTable(spark, dir),
      Seq(("user_id", java.lang.Long.valueOf(7L), java.lang.Long.valueOf(7L))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val bucketMirrorQueryOracle: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE user_id = 7
      |GROUP BY 1""".stripMargin

  /** Oracle-checked read GROUPED BY the truncate partition column: hive
    * data files do not contain `etype_pfx`, so every group key came
    * from a `truncate[2]` manifest tuple — a missed attach nulls the
    * keys and flips the hash against DuckDB's `substring(event_type,
    * 1, 2)`. */
  def truncMirrorQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, transformMirrorTable(spark, dir))
      .groupBy(col("etype_pfx"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val truncMirrorQueryOracle: String =
    """SELECT substring(event_type, 1, 2) AS etype_pfx, count(*) AS n,
      |       round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1""".stripMargin

  /** TxLog table partitioned by the generated `event_hour =
    * graft_iceberg_hours(ts)` over one day of events, mirrored with the
    * spec's `hours` transform (epoch-hours int tuples). */
  private[graft] def hoursMirrorTable(spark: SparkSession,
      dir: String): String =
    staged.getOrElseUpdate(s"iceberg-hmirror:$dir", {
      val table = graft.Scratch.dir("graft_iceberg_hmirror").toString
      val ev = Tables.events(spark, dir)
        .filter(col("ts") < lit("2024-01-02").cast("timestamp"))
      TxLog.commitAppend(ev.filter(col("event_id") < 300)
          .withColumn("event_hour", expr("graft_iceberg_hours(ts)")),
        table, partitionBy = Seq("event_hour"))
      TxLog.setGenerationExpression(spark, table,
        "event_hour", "graft_iceberg_hours(ts)")
      TxLog.commitAppend(ev.filter(col("event_id") >= 300), table,
        partitionBy = Seq("event_hour"))
      mirror(spark, table)
      table
    })

  /** Oracle-checked read GROUPED BY the hours partition column: every
    * group key is an epoch-hours int attached from a manifest tuple,
    * pinned against DuckDB's `floor(epoch(ts)/3600)`. */
  def hoursMirrorQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, hoursMirrorTable(spark, dir))
      .groupBy(col("event_hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val hoursMirrorQueryOracle: String =
    """SELECT CAST(floor(epoch(ts) / 3600) AS INTEGER) AS event_hour,
      |       count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events WHERE ts < TIMESTAMP '2024-01-02'
      |GROUP BY 1""".stripMargin

  /** TxLog table with MERGE-ON-READ history mirrored to Iceberg: a DV
    * DELETE on the even batch, an append landing AFTER it (its rows
    * must not be hidden — the sequence rule), then a DV UPDATE banding
    * across both batches and the update's own appended rows. The
    * mirror translates the cumulative DV state into one position-delete
    * file per DV-changing version. */
  private[graft] def dvMirrorTable(spark: SparkSession, dir: String): String =
    staged.getOrElseUpdate(s"iceberg-dvmirror:$dir", {
      val table = graft.Scratch.dir("graft_iceberg_dvmirror").toString
      val ev = Tables.events(spark, dir)
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .repartitionByRange(4, col("event_id")), table)
      TxLog.setTableProperties(spark, table,
        Map("delta.enableDeletionVectors" -> "true"))
      TxLog.deleteWhereDv(spark, table, col("event_id") <= 300,
        Seq(("event_id", null, java.lang.Long.valueOf(300L))))
      TxLog.commitAppend(ev.filter(pmod(col("event_id"), lit(2)) === 1), table)
      TxLog.updateWhereDv(spark, table,
        col("event_id").between(400L, 600L),
        Map("value" -> (col("value") * 2)),
        Seq(("event_id", java.lang.Long.valueOf(400L),
          java.lang.Long.valueOf(600L))))
      mirror(spark, table)
      table
    })

  /** Oracle-checked Iceberg read of a DV table: the position-delete
    * translation must hide exactly the DV'd rows — a resurrected
    * delete, an update's old version surviving, or a post-delete
    * append wrongly hidden by the sequence rule all flip the hash. */
  def dvMirrorQuery(spark: SparkSession, dir: String): DataFrame =
    snapshot(spark, dvMirrorTable(spark, dir))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  val dvMirrorQueryOracle: String =
    """SELECT event_type, count(*) AS n,
      |  round(sum(CASE WHEN event_id BETWEEN 400 AND 600 THEN value * 2
      |    ELSE value END), 2) AS total_value
      |FROM events WHERE NOT (event_id % 2 = 0 AND event_id <= 300)
      |GROUP BY 1""".stripMargin

  /** Materialize the fixture tables (idempotent) — bench-warmup hook,
    * so the first timed rep measures the read, not multi-commit fixture
    * staging (round-10: `q_iceberg_skipping` rep spread 2.84 s vs a
    * 0.13 s median — all staging). */
  def prepare(spark: SparkSession, dir: String): Unit = {
    goldenTable(spark, dir)
    rangedTable(spark, dir)
    posDeleteTable(spark, dir)
    compactedPosDeleteTable(spark, dir)
    eqDeleteTable(spark, dir)
    expireTable(spark, dir)
    mirrorTable(spark, dir)
    partMirrorTable(spark, dir)
    daysMirrorTable(spark, dir)
    transformMirrorTable(spark, dir)
    hoursMirrorTable(spark, dir)
    dvMirrorTable(spark, dir)
    ()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_iceberg_snapshot" -> snapshotQuery _,
    "q_iceberg_skipping" -> skippingQuery _,
    "q_iceberg_posdelete" -> posDeleteQuery _,
    "q_iceberg_posdel_compact" -> posDeleteCompactQuery _,
    "q_iceberg_eqdelete" -> eqDeleteQuery _,
    "q_iceberg_mirror" -> mirrorQuery _,
    "q_iceberg_part_mirror" -> partMirrorQuery _,
    "q_iceberg_days_mirror" -> daysMirrorQuery _,
    "q_iceberg_bucket_mirror" -> bucketMirrorQuery _,
    "q_iceberg_trunc_mirror" -> truncMirrorQuery _,
    "q_iceberg_hours_mirror" -> hoursMirrorQuery _,
    "q_iceberg_dv_mirror" -> dvMirrorQuery _,
    "q_iceberg_expire" -> expireQuery _
  )

  def oracles: Map[String, String] = Map(
    "q_iceberg_part_mirror" -> partMirrorQueryOracle,
    "q_iceberg_days_mirror" -> daysMirrorQueryOracle,
    "q_iceberg_bucket_mirror" -> bucketMirrorQueryOracle,
    "q_iceberg_trunc_mirror" -> truncMirrorQueryOracle,
    "q_iceberg_hours_mirror" -> hoursMirrorQueryOracle,
    "q_iceberg_dv_mirror" -> dvMirrorQueryOracle,
    "q_iceberg_expire" -> expireQueryOracle,
    "q_iceberg_snapshot" -> snapshotQueryOracle,
    "q_iceberg_skipping" -> skippingQueryOracle,
    "q_iceberg_posdelete" -> posDeleteQueryOracle,
    "q_iceberg_posdel_compact" -> posDeleteCompactQueryOracle,
    "q_iceberg_eqdelete" -> eqDeleteQueryOracle,
    "q_iceberg_mirror" -> mirrorQueryOracle
  )
}
