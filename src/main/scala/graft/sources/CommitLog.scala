package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One table's commit history, read the same way whatever writer owns
  * it. Three backends implement it: graft `_txlog` manifests
  * ([[CommitLog.Native]]), a stock `_delta_log` with no manifests
  * ([[ForeignDeltaLog]]), and a stock Iceberg `metadata/` tree with
  * neither ([[ForeignIcebergLog]]). The DSv2 source reads history only
  * through this trait, so every read feature — version offsets,
  * startingVersion, ReadLimit, AvailableNow, DV application, CDF
  * replay, time travel — works identically over all three. Versions
  * are the engine's 1-based numbering on every backend.
  *
  * Backends are stateless singletons keyed by `dir`: [[CommitLog.of]]
  * picks one per call, never per table, because a directory changes
  * kind when its first writer lands (an empty table a stream already
  * tails becomes native or foreign then). */
private[graft] trait CommitLog {

  // the `_txlog` manifest's facts, per version: the foreign backends
  // derive each from their own log and document how
  def currentVersion(dir: String): Option[Long]
  def commitDelta(dir: String, v: Long): (Seq[String], Seq[String])
  def liveRelsAt(dir: String, v: Long): Seq[String]
  def manifestOp(dir: String, v: Long): Option[(String, Boolean)]
  def manifestDvs(dir: String, v: Long): Map[String, String]
  def manifestCdc(dir: String, v: Long): Seq[String]
  def partitionColumnsOf(dir: String): Seq[String]

  /** Full table schema (current version). */
  def schema(spark: SparkSession, dir: String): StructType

  /** Table schema AT a version (time travel presents that era's). */
  def schemaAt(spark: SparkSession, dir: String, v: Long): StructType

  /** (version, added rels, removed-anything?) for every version in
    * `[fromV, toV]`, one [[commitDelta]] each. */
  def commitDeltasRange(dir: String, fromV: Long,
      toV: Long): Seq[(Long, Seq[String], Boolean)] =
    (math.max(1L, fromV) to toV).map { v =>
      val (a, r) = commitDelta(dir, v)
      (v, a, r.nonEmpty)
    }

  /** The schema version `v` DECLARED (a metaData action / a snapshot
    * schema-id change), None when it declared nothing — what the
    * streaming schema-change detector compares against the schema
    * pinned at stream start. Cheap on every backend: cached commit
    * parses (foreign Delta), cached metadata (Iceberg), or one small
    * mirror-commit JSON read (native — per NEW version only). */
  def declaredSchemaAt(dir: String, v: Long): Option[StructType]

  /** `timestampAsOf` → version, through the Delta log's commit
    * timestamps (native tables read their mirror; Delta versions trail
    * graft versions by one). Iceberg reads its snapshot-log instead. */
  def versionAsOf(dir: String, tsMillis: Long): Long =
    DeltaLog.versionAsOf(dir, tsMillis) + 1L

  /** Streaming `startingTimestamp` → the first version committed at or
    * after the timestamp (one past the newest when it postdates every
    * commit — the stream starts empty and tails what lands next),
    * through the same clock as [[versionAsOf]]. */
  def versionAtOrAfter(dir: String, tsMillis: Long): Long =
    DeltaLog.versionAtOrAfter(dir, tsMillis) + 1L

  /** Stats-based whole-file skip flags for the scan's filterExpr /
    * pushed range predicates, keyed by the backend's rel spelling: the
    * Delta log's per-file stats (native tables read their mirror) or,
    * overridden, the Iceberg manifests' column bounds. */
  def pruneFlags(spark: SparkSession, dir: String,
      preds: Seq[(String, Any, Any)]): Seq[(String, Boolean)] =
    DeltaLog.pruneFlags(spark, dir, preds)._1
      .map { case (f, keep) => f.path -> keep }

  /** FILE-schema translation for the parquet reader factory — defined
    * for column-mapped foreign Delta tables (physical rename / id
    * annotation) and for RENAMED foreign Iceberg tables (field-id
    * annotation — stock Iceberg's resolution). */
  def fileFieldRename(dir: String): Option[StructType => StructType] = None

  /** Force parquet field-id resolution for the scan (Delta mapping
    * mode "id"; Iceberg tables with a rename in their schema
    * history). */
  def fileFieldIdRead(dir: String): Boolean = false

  /** Logical → physical TOP-LEVEL column names (column-mapped foreign
    * Delta tables) — hive partition segments of mapped tables are keyed
    * by the physical spelling. */
  def partitionPhysicalNames(dir: String): Map[String, String] = Map.empty

  /** Dotted logical → physical paths for pushed-filter translation
    * (column-mapped foreign Delta tables). */
  def physicalPathMap(dir: String): Map[String, String] = Map.empty

  /** First version a CDF read can replay PER COMMIT — foreign-Delta
    * logs compacted past a checkpoint lose the aged-out prefix; native
    * manifests and Iceberg metadata retain full history until
    * vacuum/expiry (whose own failures stay loud at parse). */
  def cdfReplayFloor(dir: String): Long = 1L

  /** Per-file MANIFEST partition values at a version (hive-layout
    * foreign Iceberg trees, whose identity values live only in the
    * manifests' partition tuples — hive Delta/native tables parse
    * values from path segments instead). */
  def filePartitionValues(dir: String,
      v: Long): Map[String, Map[String, String]] = Map.empty
}

private[graft] object CommitLog {

  /** The backend that owns `dir`, by what the directory contains:
    * a stock `_delta_log` with no manifests, else an Iceberg
    * `metadata/` tree with neither, else graft manifests (or nothing
    * yet — an empty table reads as native until a writer lands). */
  def of(dir: String): CommitLog =
    if (ForeignDeltaLog.isForeign(dir)) ForeignDeltaLog
    else if (ForeignIcebergLog.isForeign(dir)) ForeignIcebergLog
    else Native

  /** Graft `_txlog` manifests, with the Delta mirror beside them for
    * commit timestamps, file stats and declared schemas. */
  object Native extends CommitLog {
    def currentVersion(dir: String): Option[Long] = TxLog.currentVersion(dir)
    def commitDelta(dir: String, v: Long): (Seq[String], Seq[String]) =
      TxLog.commitDelta(dir, v)
    // one forward pass: manifests are cumulative, so a per-version
    // commitDelta would read each one twice
    override def commitDeltasRange(dir: String, fromV: Long,
        toV: Long): Seq[(Long, Seq[String], Boolean)] =
      TxLog.commitDeltasRange(dir, fromV, toV)
    def liveRelsAt(dir: String, v: Long): Seq[String] = TxLog.liveRelsAt(dir, v)
    def manifestOp(dir: String, v: Long): Option[(String, Boolean)] =
      TxLog.readManifest(Paths.get(dir), v).op
    def manifestDvs(dir: String, v: Long): Map[String, String] =
      TxLog.readManifest(Paths.get(dir), v).dvs
    def manifestCdc(dir: String, v: Long): Seq[String] =
      TxLog.readManifest(Paths.get(dir), v).cdc
    def partitionColumnsOf(dir: String): Seq[String] =
      TxLog.partitionColumnsOf(dir)
    def schema(spark: SparkSession, dir: String): StructType =
      TxLog.snapshot(spark, dir).schema
    def schemaAt(spark: SparkSession, dir: String, v: Long): StructType =
      TxLog.snapshotAt(spark, dir, v).schema
    // native version v mirrors to Delta commit v-1
    def declaredSchemaAt(dir: String, v: Long): Option[StructType] =
      DeltaLog.metaSchemaInCommit(Paths.get(dir), v - 1)
  }

  /** Enable the parquet field-id SESSION resolution flag for a table
    * that requires it (Delta mapping mode "id"; Iceberg with a rename
    * in its schema history) — the one shared enable rule for every
    * call site (analysis, factory build, eq-delete folds, carryover
    * compares). The flag only activates for requested schemas that
    * CARRY id metadata, so enabling it is behavior-neutral elsewhere —
    * but a user who EXPLICITLY set it false (their own parquet may
    * carry bogus ids that must resolve by name) gets a loud refusal:
    * silently overriding their setting would change their other reads,
    * and silently honoring it would null-fill this table's columns. */
  def ensureFieldIdSessionFlag(spark: SparkSession, dir: String): Unit = {
    if (!of(dir).fileFieldIdRead(dir)) return
    val conf = spark.sessionState.conf
    if (conf.parquetFieldIdReadEnabled) return
    val key = org.apache.spark.sql.internal.SQLConf
      .PARQUET_FIELD_ID_READ_ENABLED.key
    if (conf.contains(key))
      sys.error(s"graft-txlog: $dir requires parquet field-id " +
        s"resolution (id-mode column mapping or a renamed Iceberg " +
        s"schema history), but $key is EXPLICITLY false in this " +
        "session — unset it, or set it true, to read this table")
    System.err.println(s"graft-txlog: enabling $key for $dir " +
      "(field-id-resolved table; the parquet ROW reader consults the " +
      "session conf captured at action start)")
    spark.conf.set(key, "true")
  }
}
