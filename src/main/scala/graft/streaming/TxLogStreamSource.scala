package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, Filter => SFilter, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.{CommitLog, TxLog}

/** `format("graft-txlog")`: the TxLog table as a first-class Spark
  * DATA SOURCE V2 — "the lakehouse table is also a replayable message
  * bus", Delta's own streaming-source model. OFFSETS ARE COMMIT
  * VERSIONS, and each micro-batch reads exactly the files the commits
  * in `(start, end]` appended — O(new data) per trigger, never a
  * snapshot diff, and replayable from any retained version.
  *
  * Surfaces, all on the one registered short name:
  *  - `spark.readStream.format("graft-txlog").option("path", dir)` —
  *    MICRO_BATCH_READ via a [[TxLogMicroBatchStream]] with NATIVE
  *    admission control ([[SupportsAdmissionControl]], a
  *    [[MaxVersions]] `ReadLimit`) and the native AvailableNow
  *    protocol ([[SupportsTriggerAvailableNow]]).
  *  - `spark.read.format("graft-txlog")` — BATCH_READ of the current
  *    snapshot through the same file-planning machinery.
  *  - `df.writeStream.format("graft-txlog")` — the EXACTLY-ONCE sink
  *    ([[TxLogSink]]): each micro-batch lands via
  *    [[TxLog.commitAppendOnce]] keyed by (txnAppId, batchId), so a
  *    crash between commit and checkpoint replays into a skip.
  *
  * Read options: `startingVersion` (INCLUSIVE first version, stock
  * Delta semantics; default 0 = full history), `startingTimestamp`
  * (the other stock spelling: the first version committed at or after
  * the timestamp, resolved per backend — Delta commit clocks,
  * ICT-aware, or the Iceberg snapshot-log), `skipChangeCommits`
  * (skip non-append commits instead of failing; legacy spellings
  * `ignoreDeletes` / `ignoreChanges` keep their stock migration
  * semantics — see [[ChangePolicy]]), `maxVersionsPerTrigger` and/or
  * `maxFilesPerTrigger` (admission control: ≤ N commit versions / ≤ N
  * added files per micro-batch, whole versions, composable),
  * `readChangeFeed` (emit `_change_type`/`_commit_version` CDF columns;
  * see [[TxLogScan]]; batch CDF reads also take `startingTimestamp` /
  * `endingTimestamp` bounds), and the STREAMING-PRUNING pair
  * `columns` / `filterExpr` (below).
  *
  * Streaming pruning: Spark applies DSv2 operator pushdown to BATCH
  * scans only — a long-running tail of a wide table would read every
  * column of every file no matter what the query selects. Two source
  * options close that gap by moving the pruning decision to the
  * source, where streaming plans CAN act on it:
  *  - `columns` (comma-separated names): the table PRESENTS only these
  *    columns — the scan's `ReadSchema` shrinks exactly as a pushed
  *    projection would, and the parquet reader never touches the rest.
  *  - `filterExpr` (a SQL predicate over table columns): a PRUNING
  *    HINT, not an exact filter — its conjunctive range envelope
  *    prunes whole files against the Delta mirror's per-file stats and
  *    partition values at `planInputPartitions` time (the identical
  *    [[graft.sources.DeltaLog.pruneFlags]] machinery the batch scan
  *    uses), and the translated filters reach the parquet reader for
  *    row-group/page pruning. Rows in surviving files that do NOT
  *    match may still surface (parquet pruning is best-effort
  *    over-approximation), so keep the query's own `.filter` as the
  *    exact gate — the option only stops the scan from READING what
  *    the filter would throw away.
  *
  * Write options: `path`, `txnAppId` (the idempotence-token app id;
  * defaults to a digest of the `checkpointLocation` OPTION, so the
  * same checkpointed query keeps the same token stream across
  * restarts; Append mode REFUSES when neither is set — without a
  * restart-stable identity the replay token would be a fresh UUID per
  * start, i.e. silent at-least-once).
  *
  * Execution model: `planInputPartitions` resolves manifest paths to
  * [[PartitionedFile]]s (partition values parsed from the hive path
  * segments, typed by the table schema) bin-packed into
  * [[FilePartition]]s by Spark's own size-based packer, and
  * `createReaderFactory` hands back Spark's OWN vectorized
  * [[ParquetPartitionReaderFactory]] — the identical executor read
  * path a native parquet scan uses (whole-stage columnar batches,
  * schema-evolution null fill), constructed compile-checked, with no
  * reflection anywhere. Replaces the earlier DSv1 `Source` whose only
  * way to return a streaming DataFrame was a reflective
  * `internalCreateDataFrame` call.
  *
  * Non-append safety (stock Delta's rule): a copy-on-write rewrite
  * re-adds surviving rows the stream already delivered, so treating it
  * as an append would double-count downstream. Each version therefore
  * CLASSIFIES via the manifest's own `#op` header (written atomically
  * with the commit): bytes-only rewrites (OPTIMIZE/REORG) skip
  * silently; data-changing rewrites FAIL the stream unless
  * `skipChangeCommits` opts in; pre-`#op` manifests fall back to one
  * Delta-mirror read.
  */
class TxLogStreamProvider extends TableProvider with DataSourceRegister
    with StreamSinkProvider {

  override def shortName(): String = "graft-txlog"

  private def dirOf(options: JMap[String, String]): String =
    Option(options.get("path")).getOrElse(
      sys.error("graft-txlog needs .option(\"path\", <table dir>)"))

  /** Empty schema for a table with no commits yet: the WRITE path
    * probes `getTable` for capability detection before the sink ever
    * creates the table, so inference must not fail there; a READ of an
    * empty table still fails loudly at planning. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = dirOf(options)
    def log = CommitLog.of(dir)
    if (log.currentVersion(dir).isEmpty) new StructType()
    else {
      val spark = SparkSession.getActiveSession.getOrElse(
        sys.error("graft-txlog: no active SparkSession"))
      // field-id-resolved tables (Delta mapping mode "id"; Iceberg with
      // a rename in its history) enable the session resolution flag AT
      // ANALYSIS TIME, not first-plan time: the parquet ROW-path
      // converter consults the SQLConf CAPTURED when an action STARTS —
      // a set made mid-planning (createReaderFactory, planCarryover)
      // misses the very first action's capture, and its row-path reads
      // (DV/CDF/merge-on-read partitions) would silently null-fill
      // every id-resolved column exactly once.
      CommitLog.ensureFieldIdSessionFlag(spark, dir)
      // time travel presents the TABLE AT THAT VERSION's schema (stock
      // Delta's versionAsOf contract) — a later-added column must not
      // surface null-filled on a historical read
      val full = TxLogScan.asOfOption(options.asCaseSensitiveMap()
            .asScala.toMap, dir) match {
        case Some(v) =>
          val pcols = log.partitionColumnsOf(dir)
          val s = log.schemaAt(spark, dir, v)
          val data = s.fields.filterNot(f => pcols.contains(f.name))
          val part = pcols.flatMap(n => s.fields.find(_.name == n))
          StructType(data ++ part)
        case None => TxLogScan.readSchema(spark, dir,
          cdf = options.getBoolean("readChangeFeed", false))
      }
      TxLogScan.applyColumns(full, Option(options.get("columns")))
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new TxLogTable(dirOf(properties), schema,
      properties.asScala.toMap)

  /** DSv1 STREAMING SINK (the `writeStream.format("graft-txlog")`
    * path): `createSink` receives `partitionBy` natively and the
    * commit machinery — validation, generated/default-column
    * completion, partitioned batch layout, Delta mirroring, token
    * idempotence — is exactly [[TxLog.commitAppendOnce]]. A DSv2
    * `StreamingWrite` would re-implement executor-side parquet commit
    * coordination the table format already owns.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val dir = parameters.getOrElse("path",
      sys.error("graft-txlog sink needs .option(\"path\", <table dir>)"))
    // the sink commits _txlog manifests; a table that has ONLY a
    // foreign _delta_log (or a stock Iceberg metadata tree) is owned by
    // another writer — writing graft manifests beside it would fork the
    // commit history
    require(CommitLog.of(dir) == CommitLog.Native,
      s"graft-txlog sink: $dir is a foreign table (a _delta_log or " +
        "Iceberg metadata/ tree with no graft manifests) — the source " +
        "can TAIL it, but writes belong to its owning writer")
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete(),
      s"graft-txlog sink supports Append (commit per batch) and Complete " +
        s"(overwrite per batch), not $outputMode")
    // The token app id must be STABLE across restarts — a per-start
    // UUID would let a batch replayed after a crash (commit landed,
    // checkpoint advance didn't) commit again under a fresh token,
    // silently duplicating rows. With neither option there is no
    // stable identity to derive one from (a checkpoint dir set only
    // via session conf is invisible to createSink), so Append mode
    // refuses loudly instead of degrading to at-least-once.
    val appId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation").map(c =>
        "graft-txlog-sink-" + java.security.MessageDigest.getInstance("MD5")
          .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)))
      .getOrElse {
        if (outputMode == OutputMode.Complete()) "graft-txlog-sink-complete"
        else sys.error("graft-txlog sink in Append mode needs " +
          ".option(\"txnAppId\", <stable id>) or " +
          ".option(\"checkpointLocation\", <dir>) — exactly-once replay " +
          "protection requires a restart-stable transaction identity")
      }
    new TxLogSink(dir, appId, partitionColumns,
      complete = outputMode == OutputMode.Complete())
  }
}

/** Exactly-once streaming sink: Append mode commits each micro-batch
  * through [[TxLog.commitAppendOnce]] with (appId, batchId) as the
  * SetTransaction token — a batch replayed after a crash between
  * commit and checkpoint-advance skips instead of duplicating, and the
  * token rides the manifest (the commit point) so data and token are
  * atomic. Complete mode overwrites the table per batch (idempotent by
  * construction). The incoming DataFrame's logical plan has the
  * streaming sources already replaced by this batch's data, so the
  * commit path's re-executions (validation aggregate + staged write)
  * are plain batch runs — the same re-execution contract
  * FileStreamSink relies on.
  */
class TxLogSink(dir: String, appId: String, partitionBy: Seq[String],
    complete: Boolean) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // re-wrap as a batch DataFrame over the already-planned batch RDD
    // (the ForeachBatchSink move) — the commit path re-executes the
    // plan for its validation aggregate and staged write, which the
    // streaming-flagged original would refuse
    val batch = org.apache.spark.sql.graft.Bridge.asBatch(data)
    if (complete) { TxLog.commitOverwrite(batch, dir, partitionBy); () }
    else { TxLog.commitAppendOnce(batch, dir, appId, batchId, partitionBy); () }
  }

  override def toString: String =
    s"TxLogSink[$dir, appId=$appId${if (complete) ", complete" else ""}]"
}

class TxLogTable(dir: String, schema: StructType,
    options: Map[String, String]) extends Table with SupportsRead {

  override def name(): String = s"graft-txlog:$dir"

  override def schema(): StructType = schema

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new TxLogScanBuilder(dir, schema,
      options ++ caseInsensitive.asCaseSensitiveMap().asScala)
}

/** Pushdown surface of the connector: COLUMN PRUNING (the scan reads
  * only the projected columns — `ReadSchema` shrinks exactly as a
  * native parquet scan's would) and FILTER PUSHDOWN (data-column
  * predicates reach the parquet reader for row-group/page pruning,
  * and their range envelope prunes WHOLE FILES against the Delta
  * mirror's per-file stats and partition values before any IO — the
  * [[graft.sources.DeltaLog.skipScan]] machinery behind a DSv2 scan).
  * Every filter is also kept as a residual: file/row-group skipping is
  * best-effort over-approximation, Spark's post-scan Filter stays the
  * exact gate.
  */
class TxLogScanBuilder(dir: String, fullSchema: StructType,
    options: Map[String, String]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var pushed: Array[SFilter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[SFilter]): Array[SFilter] = {
    // push only filters over data/partition columns that exist; keep
    // ALL as residuals (pruning is an over-approximation, never exact)
    val names = fullSchema.fieldNames.toSet
    pushed = filters.filter(_.references.forall(names))
    filters
  }

  override def pushedFilters(): Array[SFilter] = pushed

  override def build(): Scan =
    new TxLogScan(dir, fullSchema, options, required, pushed)
}

object TxLogScan {

  /** Observability for specs: (projected read schema, pushed-filter
    * count) of the most recent reader-factory construction — how the
    * streaming path proves the engine's pushdown rules reached it. */
  @volatile private[graft] var lastScan: Option[(StructType, Int)] = None

  /** Observability for specs: (candidate files, files kept) of the most
    * recent `filterExpr` stats prune — proves a streaming read with the
    * option actually skipped whole files before any IO. */
  @volatile private[graft] var lastStreamPrune: Option[(Int, Int)] = None

  /** Observability for specs: the exact filters handed to the parquet
    * reader factory at its most recent construction — on a
    * column-mapped table these must carry PHYSICAL column names, or
    * row-group pruning silently matches nothing. */
  @volatile private[graft] var lastFileFilters: Array[SFilter] = Array.empty

  /** Hadoop-conf broadcast memo for reader factories. A DSv2 streaming
    * scan rebuilds its reader factory per micro-batch AND per query run
    * (every drain restart), and each build used to clone the full
    * session Hadoop configuration and `sparkContext.broadcast` it —
    * 15–60 ms of driver time per build, the largest single
    * driver-profile frame in the streaming tier (thread-dump sampled).
    * Stock Spark pays this once per plan instance; a restart-heavy tail
    * pays it O(drains × factories-per-plan). The broadcast's content is
    * fully determined by (appId, table dir, scan options, requested
    * file schema, the eight SQLConf values copied in, the field-id
    * resolution bit, and a fingerprint of the mutable base conf the
    * clone starts from — SparkContext Hadoop conf + session SQL-conf
    * map, see [[baseConfFingerprint]]) — that tuple is the key, so any
    * session-conf change misses the memo and builds fresh. Access-order
    * LRU, 64
    * entries: bounded driver+executor footprint even across many
    * corpora; evicted via [[graft.Caches.clearAll]] with the other
    * machinery memos (NOT between bench sweeps — this is config
    * plumbing, not a query result or data artifact).
    */
  private val confBcMemo =
    new java.util.LinkedHashMap[Object, org.apache.spark.broadcast.Broadcast[SerializableConfiguration]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Object, org.apache.spark.broadcast.Broadcast[SerializableConfiguration]]): Boolean = {
        val evict = size() > 64
        // drop the evicted entry's executor-side blocks instead of
        // waiting for a driver GC + ContextCleaner pass — a long
        // session crossing many corpora must not hold more broadcast
        // memory than the cap suggests. unpersist (not destroy): a
        // factory still holding the broadcast lazily re-fetches.
        if (evict) scala.util.Try(e.getValue.unpersist(false))
        evict
      }
    }

  /** Observability for specs: broadcast builds (memo misses) so far. */
  private[graft] val confBcBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  private[streaming] def confBroadcast(key: Object)(
      build: => org.apache.spark.broadcast.Broadcast[SerializableConfiguration])
      : org.apache.spark.broadcast.Broadcast[SerializableConfiguration] =
    confBcMemo.synchronized {
      val hit = confBcMemo.get(key)
      if (hit != null) hit
      else { confBcBuilds.incrementAndGet(); val b = build; confBcMemo.put(key, b); b }
    }
  private[graft] def clearConfBroadcasts(): Unit =
    confBcMemo.synchronized {
      confBcMemo.values().forEach(b => scala.util.Try(b.unpersist(false)))
      confBcMemo.clear()
    }

  /** Fingerprint of the MUTABLE base configuration
    * [[org.apache.spark.sql.internal.SessionState.newHadoopConfWithOptions]]
    * snapshots beyond the values the factory copies in explicitly: the
    * SparkContext-level Hadoop conf (fs.* / credentials / spark.hadoop.*
    * seeds) and the session's entire SQL-conf map (newHadoopConf folds
    * every set entry into the built configuration). Participates in the
    * broadcast memo key so ANY mid-session conf mutation misses and
    * rebuilds instead of serving a stale broadcast. O(set entries) per
    * factory build — well under a millisecond against the 15–60 ms build
    * it guards. */
  private[streaming] def baseConfFingerprint(spark: SparkSession): String =
    confDigest(spark.sparkContext.hadoopConfiguration.asScala
        .map(e => e.getKey -> e.getValue),
      spark.sessionState.conf.getAllConfs)

  /** SHA-256 over the key-sorted entries of the Hadoop conf and the SQL
    * conf, each entry NUL-terminated and each conf tagged, so neither
    * iteration order nor a key/value boundary can alias two confs. */
  private[graft] def confDigest(hadoop: Iterable[(String, String)],
      sql: Iterable[(String, String)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0: Byte) }
    for ((tag, conf) <- Seq("H" -> hadoop, "S" -> sql);
         (k, v) <- conf.toSeq.sorted) { add(tag + k); add(v) }
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  /** Observability for specs: (rows the driver collected, total bitmap
    * bytes) of the most recent [[TxLogScan.planCarryover]] nets —
    * proves the driver received per-file roaring bitmaps, not
    * O(change rows) (file, pos) tuples. */
  @volatile private[graft] var lastCarryoverFold: Option[(Int, Long)] = None

  /** Respell every column reference of a source filter through `m`
    * (dotted logical path → physical path). None when any reference is
    * missing from the map — that filter drops from the best-effort
    * row-group-pruning hint while the post-scan residual stays the
    * exact gate, so the translation can never affect correctness.
    *
    * `pos` tracks POLARITY: a conjunction may keep its translatable
    * side alone only in POSITIVE position — under a Not, And(a, b)
    * weakened to And(a) and then negated yields Not(a), which is
    * NARROWER than Not(And(a, b)) (¬(a∧b) = ¬a ∨ ¬b ⊇ ¬a) and could
    * wrongly prune row groups. Negative-position Ands are therefore
    * all-or-nothing, exactly like Ors. */
  private[streaming] def renameFilterCols(f: SFilter,
      m: Map[String, String], pos: Boolean = true): Option[SFilter] = {
    import org.apache.spark.sql.{sources => sf}
    def t(c: String): Option[String] = m.get(c)
    f match {
      case sf.EqualTo(c, v) => t(c).map(sf.EqualTo(_, v))
      case sf.EqualNullSafe(c, v) => t(c).map(sf.EqualNullSafe(_, v))
      case sf.GreaterThan(c, v) => t(c).map(sf.GreaterThan(_, v))
      case sf.GreaterThanOrEqual(c, v) => t(c).map(sf.GreaterThanOrEqual(_, v))
      case sf.LessThan(c, v) => t(c).map(sf.LessThan(_, v))
      case sf.LessThanOrEqual(c, v) => t(c).map(sf.LessThanOrEqual(_, v))
      case sf.In(c, vs) => t(c).map(sf.In(_, vs))
      case sf.IsNull(c) => t(c).map(sf.IsNull(_))
      case sf.IsNotNull(c) => t(c).map(sf.IsNotNull(_))
      case sf.StringStartsWith(c, v) => t(c).map(sf.StringStartsWith(_, v))
      case sf.StringEndsWith(c, v) => t(c).map(sf.StringEndsWith(_, v))
      case sf.StringContains(c, v) => t(c).map(sf.StringContains(_, v))
      case sf.And(a, b) =>
        // a POSITIVE-position conjunction may keep its translatable
        // side alone — each conjunct is independently a sound
        // over-approximation; under a Not it must stay all-or-nothing
        // (see the polarity note above), and an OR always must
        // (dropping a disjunct narrows)
        (renameFilterCols(a, m, pos), renameFilterCols(b, m, pos)) match {
          case (Some(x), Some(y)) => Some(sf.And(x, y))
          case (Some(x), None) if pos => Some(x)
          case (None, Some(y)) if pos => Some(y)
          case _ => None
        }
      case sf.Or(a, b) => for { x <- renameFilterCols(a, m, pos)
                                y <- renameFilterCols(b, m, pos) } yield sf.Or(x, y)
      case sf.Not(a) => renameFilterCols(a, m, !pos).map(sf.Not(_))
      case at: sf.AlwaysTrue => Some(at)
      case af: sf.AlwaysFalse => Some(af)
      case _ => None
    }
  }

  /** The `columns` option: prune the presented table schema to the
    * listed names (full-schema field order is kept so the data /
    * partition / CDF column split downstream stays stable). Unknown
    * names fail loudly — a typo that silently read everything would be
    * the worst outcome for the option's whole purpose. */
  private[streaming] def applyColumns(full: StructType,
      columns: Option[String]): StructType = columns match {
    case None => full
    case Some(spec) =>
      val want = spec.split(",").map(_.trim).filter(_.nonEmpty)
      val have = full.fieldNames.toSet
      val missing = want.filterNot(have)
      require(missing.isEmpty, s"graft-txlog: columns option names " +
        s"unknown column(s) ${missing.mkString(", ")}; table has " +
        full.fieldNames.mkString(", "))
      val keep = want.toSet
      StructType(full.fields.filter(f => keep(f.name)))
  }

  /** The `filterExpr` option: analyze the SQL predicate against the
    * table's DATA+PARTITION schema (CDF pseudo-columns excluded — they
    * exist in no file or stats entry) and translate each conjunct to a
    * DSv2 [[SFilter]]. Untranslatable conjuncts contribute nothing
    * (pruning stays a sound over-approximation); zero translatable
    * conjuncts fails loudly — an option that silently prunes nothing
    * would defeat its purpose. */
  private[streaming] def parseFilterExpr(spark: SparkSession,
      schema: StructType, exprStr: String): Array[SFilter] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, CommonExpressionRef, Expression, Literal, RuntimeReplaceable, With}
    import org.apache.spark.sql.catalyst.plans.logical
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val analyzed = empty.filter(org.apache.spark.sql.functions.expr(exprStr))
      .queryExecution.analyzed
    val raw = analyzed.collectFirst { case f: logical.Filter => f.condition }
      .getOrElse(sys.error(
        s"graft-txlog: filterExpr is not a predicate: $exprStr"))
    // normalize to what translateFilter accepts — the rewrites the
    // optimizer would do but can't here (it would just erase a Filter
    // over an empty relation): expand RuntimeReplaceable sugar
    // (`between` analyzes to a Between node, not And(>=, <=)), inline
    // the With/CommonExpressionRef CSE wrappers those replacements
    // carry (duplicated evaluation is fine — these only drive pruning),
    // and fold constant subtrees (analysis leaves `cast(100 as bigint)`
    // unevaluated around literals). Replacements can nest, so iterate
    // to a fixpoint.
    def expand(e: Expression): Expression = {
      val next = e.transformUp {
        case r: RuntimeReplaceable => r.replacement
      }.transformUp {
        case w: With =>
          val defs = w.defs.map(d => d.id -> d.child).toMap
          w.child.transformUp { case ref: CommonExpressionRef => defs(ref.id) }
      }
      if (next.fastEquals(e)) e else expand(next)
    }
    val cond = expand(raw).transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        Literal.create(e.eval(null), e.dataType)
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    val fs = conjuncts(cond).flatMap(
      org.apache.spark.sql.graft.Bridge.translateFilter)
    require(fs.nonEmpty, s"graft-txlog: no conjunct of filterExpr " +
      s"'$exprStr' translates to a source filter — nothing to prune with")
    fs.toArray
  }

  private[streaming] val CdfFields: Seq[StructField] = Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_commit_version", LongType, nullable = false))

  /** The scan's output schema: data columns first, partition columns
    * last (where a parquet partition-discovery read puts them), CDF
    * pseudo-columns after that when `readChangeFeed` is on. */
  private[streaming] def readSchema(spark: SparkSession, dir: String,
      cdf: Boolean): StructType = {
    val full = CommitLog.of(dir).schema(spark, dir)
    val pcols = CommitLog.of(dir).partitionColumnsOf(dir)
    val data = full.fields.filterNot(f => pcols.contains(f.name))
    val part = pcols.map(n => full.fields.find(_.name == n).getOrElse(
      sys.error(s"$dir: partition column $n missing from table schema")))
    StructType(data ++ part ++ (if (cdf) CdfFields else Seq.empty))
  }

  /** Conjunctive range envelope of pushed filters as (col, lo, hi)
    * triples (inclusive bounds, null = unbounded) — the
    * over-approximation file-stats pruning needs. Conjuncts only; any
    * unsupported shape simply contributes nothing (pruning stays
    * sound, residual filters stay exact). */
  private[graft] def rangeTriples(fs: Array[SFilter]): Seq[(String, Any, Any)] = {
    import org.apache.spark.sql.{sources => sf}
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Any, Any)]
    def merge(c: String, lo: Any, hi: Any): Unit = {
      val (l0, h0) = m.getOrElse(c, (null, null))
      m(c) = (if (lo != null) lo else l0, if (hi != null) hi else h0)
    }
    def walk(f: SFilter): Unit = f match {
      case sf.EqualTo(c, v) => merge(c, v, v)
      case sf.GreaterThan(c, v) => merge(c, v, null)
      case sf.GreaterThanOrEqual(c, v) => merge(c, v, null)
      case sf.LessThan(c, v) => merge(c, null, v)
      case sf.LessThanOrEqual(c, v) => merge(c, null, v)
      case sf.And(a, b) => walk(a); walk(b)
      case _ => ()
    }
    fs.foreach(walk)
    m.toSeq.map { case (c, (lo, hi)) => (c, lo, hi) }
      .filter(t => t._2 != null || t._3 != null)
  }

  /** Timestamp-option value parse (`startingTimestamp` /
    * `endingTimestamp` / `timestampAsOf`): epoch millis,
    * `yyyy-MM-dd HH:mm:ss[.f]`, date-only `yyyy-MM-dd` (midnight,
    * system zone), or ISO-8601 with 'T' and optional offset/Z — the
    * spellings stock Delta documents for these exact options. */
  private[streaming] def parseTsMillis(raw: String): Long = {
    val s = raw.trim
    s.toLongOption.getOrElse {
      import java.time.{Instant, LocalDate, LocalDateTime, OffsetDateTime, ZoneId}
      scala.util.Try(java.sql.Timestamp.valueOf(s).getTime)
        .orElse(scala.util.Try(OffsetDateTime.parse(s).toInstant.toEpochMilli))
        .orElse(scala.util.Try(Instant.parse(s).toEpochMilli))
        .orElse(scala.util.Try(LocalDateTime.parse(s)
          .atZone(ZoneId.systemDefault()).toInstant.toEpochMilli))
        .orElse(scala.util.Try(LocalDate.parse(s)
          .atStartOfDay(ZoneId.systemDefault()).toInstant.toEpochMilli))
        .getOrElse(sys.error(s"graft-txlog: cannot parse timestamp '$s' " +
          "— use epoch millis, 'yyyy-MM-dd[ HH:mm:ss]', or ISO-8601"))
    }
  }

  /** Hive path-segment unescape — Spark's own implementation, shared
    * with the Delta mirror's segment parsing (a hand-rolled %xx loop
    * here diverged on malformed escapes and multi-byte UTF-8). */
  private[streaming] def unescapePath(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** TIME TRAVEL options of a batch read, resolved to a TxLog version:
    * `versionAsOf` (a committed TxLog version) or `timestampAsOf`
    * (epoch millis, or any `java.sql.Timestamp`-parsable local
    * datetime — resolved against the mirror's commit timestamps, the
    * same rule as stock Delta). Case-insensitive lookup; both set is
    * an error. */
  private[streaming] def asOfOption(options: Map[String, String],
      dir: String): Option[Long] = {
    val ci = options.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val byV = ci.get("versionasof").map(_.trim.toLong)
    val byTs = ci.get("timestampasof").map { raw =>
      // backend-resolved: mirror commit timestamps (Delta paths, where
      // DeltaLog versions trail TxLog by one) or the Iceberg snapshot-log
      CommitLog.of(dir).versionAsOf(dir, parseTsMillis(raw))
    }
    require(byV.isEmpty || byTs.isEmpty,
      "graft-txlog: versionAsOf and timestampAsOf are mutually exclusive")
    val asOf = byV.orElse(byTs)
    asOf.foreach { v =>
      val latest = CommitLog.of(dir).currentVersion(dir).getOrElse(
        sys.error(s"graft-txlog: no committed version in $dir"))
      require(v >= 1L && v <= latest, s"graft-txlog: versionAsOf $v " +
        s"outside the committed range 1..$latest of $dir")
    }
    asOf
  }
}

/** One scan = one (projection, filters, options) binding;
  * `toMicroBatchStream` for the streaming read, `toBatch` for the
  * snapshot read. File planning and the reader factory are shared by
  * both. Pruning reality check (measured, not assumed): Spark's
  * operator-pushdown rules reach BATCH DSv2 scans only — a streaming
  * query's projection stays a post-scan Project (the engine builds the
  * streaming scan un-pruned; stock connectors see the same), so the
  * pruned-projection/pushed-filter machinery below pays off on the
  * `spark.read` path and is simply inert (full schema, zero filters)
  * on the stream path. */
class TxLogScan(dir: String, fullSchema: StructType,
    options: Map[String, String], required: StructType,
    pushed: Array[SFilter]) extends Scan {

  // the DSv2 contract is CASE-INSENSITIVE options; the merged map keeps
  // original casing, so every lookup goes through this
  private val optsCI: Map[String, String] =
    options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
  private def opt(name: String): Option[String] =
    optsCI.get(name.toLowerCase(java.util.Locale.ROOT))
  // resolved per use: an empty table turns native or foreign when its
  // first writer lands, under a scan that already exists
  private def log: CommitLog = CommitLog.of(dir)

  private val cdf = opt("readChangeFeed").exists(_.toBoolean)
  // time travel (batch only): versionAsOf / timestampAsOf
  private val asOf: Option[Long] = TxLogScan.asOfOption(optsCI, dir)
  require(asOf.isEmpty || !cdf,
    "graft-txlog: time travel does not combine with readChangeFeed — " +
      "bound the feed with startingVersion instead")
  // appended (non-file) columns: real partition cols + CDF pseudo-cols
  private val partCols = log.partitionColumnsOf(dir)
  // logical → physical partition-segment spelling (column-mapped
  // foreign tables hive-partition by physical names; empty otherwise)
  private lazy val partPhysNames: Map[String, String] =
    log.partitionPhysicalNames(dir)
  // graft-written change-data files are FLAT (partition columns ride
  // in-file as data; only `_commit_version` appends); stock Delta
  // writers HIVE-PARTITION `_change_data/`, so a foreign partitioned
  // table's cdc reads append the partition columns from the cdc file's
  // own path segments instead — this set names what appends per shape
  private lazy val cdcAppendedNames: Set[String] =
    if (partCols.nonEmpty && log == graft.sources.ForeignDeltaLog)
      partCols.toSet + "_commit_version"
    else Set("_commit_version")
  private val appendedNames: Set[String] =
    (partCols ++ (if (cdf) TxLogScan.CdfFields.map(_.name) else Seq.empty)).toSet
  // full FILE schema (the parquet resolution baseline) vs the PRUNED
  // projection split into its file and appended halves
  private val dataSchema = StructType(
    fullSchema.fields.filterNot(f => appendedNames(f.name)))
  private val readDataSchema = StructType(
    required.fields.filterNot(f => appendedNames(f.name)))
  private val readPartSchema = StructType(
    required.fields.filter(f => appendedNames(f.name)))
  // the `filterExpr` option, analyzed and translated once per scan —
  // the streaming path's stand-in for the operator pushdown Spark only
  // applies to batch scans (lazy: analysis needs the active session)
  private lazy val optionFilters: Array[SFilter] = opt("filterExpr") match {
    case None => Array.empty
    case Some(e) =>
      val spark = SparkSession.getActiveSession.getOrElse(
        sys.error("graft-txlog: no active SparkSession"))
      // analyze against the FULL on-disk schema, not the `columns`-pruned
      // one: stats-based file skipping never needs the predicate column
      // to be READ, so filterExpr may prune on columns the projection
      // drops (row-group pruning then simply skips that conjunct)
      TxLogScan.parseFilterExpr(spark,
        TxLogScan.readSchema(spark, dir, cdf = false), e)
  }
  private lazy val allFilters: Array[SFilter] = pushed ++ optionFilters
  // filters over file columns go to the parquet reader (row-group/page
  // pruning); partition-column filters prune at file granularity only
  private lazy val dataFilters: Array[SFilter] =
    allFilters.filter(_.references.forall(dataSchema.fieldNames.contains))

  /** Manifest-relative paths of live files the filters' range envelope
    * PROVES no-match against the Delta mirror's per-file stats and
    * partition values — the whole-file skip set shared by the batch and
    * streaming planners. Soundness contract: only explicitly-disproven
    * files skip; an absent/unreadable mirror (or a file the mirror no
    * longer lists, e.g. replaying a version whose file was later
    * rewritten away) disables pruning for it — correct, just unpruned. */
  private[streaming] def skippedFiles(): Set[String] = {
    val preds = TxLogScan.rangeTriples(allFilters)
    if (preds.isEmpty) Set.empty
    else scala.util.Try(
      log.pruneFlags(
        SparkSession.getActiveSession.get, dir, preds)
        .collect { case (f, false) => f }.toSet)
      .getOrElse(Set.empty)
  }

  /** Apply [[skippedFiles]] to per-version file lists, recording the
    * (candidates, kept) tally for spec observability. */
  private[streaming] def pruneRels(
      versioned: Seq[(Long, Seq[String])]): Seq[(Long, Seq[String])] = {
    val skipped = skippedFiles()
    if (skipped.isEmpty) return versioned
    val out = versioned.map { case (v, rels) => (v, rels.filterNot(skipped)) }
    TxLogScan.lastStreamPrune =
      Some((versioned.map(_._2.size).sum, out.map(_._2.size).sum))
    out.filter(_._2.nonEmpty)
  }

  override def readSchema(): StructType =
    StructType(readDataSchema.fields ++ readPartSchema.fields)

  /** The REAL table fields this scan resolved at analysis (CDF
    * pseudo-columns excluded) — what the schema-change pin
    * cross-checks against the table's state at run start. */
  private[streaming] def tableFields: Set[(String, org.apache.spark.sql.types.DataType)] = {
    val pseudo = TxLogScan.CdfFields.map(_.name).toSet
    fullSchema.fields.filterNot(f => cdf && pseudo(f.name))
      .map(f => (f.name, f.dataType)).toSet
  }

  /** True when the `columns` option pruned the presented schema — the
    * pin's consistency check then tests subset, not equality. */
  private[streaming] def columnsPruned: Boolean = opt("columns").isDefined

  override def description(): String = {
    val pf = if (allFilters.isEmpty) ""
      else allFilters.mkString(", PushedFilters: [", ", ", "]")
    s"graft-txlog $dir${if (cdf) " [changeFeed]" else ""}$pf"
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(asOf.isEmpty, "graft-txlog: versionAsOf/timestampAsOf are " +
      "batch-read options — a stream replays history via startingVersion" +
      "/startingTimestamp")
    // `startingTimestamp` (stock Delta's second spelling of the start):
    // epoch millis / datetime / date / ISO-8601, resolved to the FIRST
    // version committed at or after it — the exact twin of the
    // equivalent startingVersion, including the no-initial-snapshot
    // semantics (a timestamp start means "changes since", never the
    // whole table). Resolution is LAZY (a thunk the stream evaluates
    // only when it actually needs the base offset): a RESUMING stream
    // reads its position from the checkpoint, and re-resolving a
    // timestamp against a log whose clocks moved on must not be able
    // to fail — or shift — an already-positioned stream.
    val byV = opt("startingVersion").map(_.toLong)
    val byTsRaw = opt("startingTimestamp")
    require(byV.isEmpty || byTsRaw.isEmpty, "graft-txlog: startingVersion " +
      "and startingTimestamp are mutually exclusive")
    val resolveStart: () => Long = () =>
      byV.orElse(byTsRaw.map(raw =>
        log.versionAtOrAfter(dir, TxLogScan.parseTsMillis(raw))))
        .getOrElse(0L)
    val policy = ChangePolicy(
      opt("skipChangeCommits").exists(_.toBoolean),
      opt("ignoreDeletes").exists(_.toBoolean),
      opt("ignoreChanges").exists(_.toBoolean))
    // the legacy spellings are APPEND-stream semantics (skip / re-
    // deliver); a change feed types every row instead — only
    // skipChangeCommits composes with it (skip = deliver nothing)
    require(!cdf || (!policy.ignoreDeletes && !policy.ignoreChanges),
      "graft-txlog: ignoreDeletes/ignoreChanges do not combine with " +
        "readChangeFeed — the feed types change rows; use " +
        "skipChangeCommits to skip change commits entirely")
    new TxLogMicroBatchStream(this, dir, resolveStart, policy,
      opt("maxVersionsPerTrigger").map(_.toLong),
      opt("maxFilesPerTrigger").map(_.toLong), cdf,
      opt("allowAdditiveSchemaChange").exists(_.toBoolean))
  }

  override def toBatch: Batch = new Batch {
    /** Live files, minus the ones the pushed filters' range envelope
      * PROVES no-match against the Delta mirror's per-file stats and
      * partition values — whole-file skipping before any IO, the same
      * soundness contract as [[graft.sources.TxLog.deleteWhere]]'s
      * pruning: only explicitly-disproven files skip; an absent or
      * unreadable mirror disables pruning (correct, just unpruned).
      * The CDF batch read replays PER VERSION instead (like the
      * stream), so `_commit_version` is each row's REAL commit — a
      * snapshot-shaped read would mislabel the whole history with the
      * current version. */
    override def planInputPartitions(): Array[InputPartition] = {
      val cur = log.currentVersion(dir).getOrElse(
        sys.error(s"no committed version in $dir"))
      if (cdf) {
        val skip = opt("skipChangeCommits").exists(_.toBoolean)
        // `startingVersion` / `endingVersion` (both inclusive, stock
        // Delta) bound the batch replay — or their TIMESTAMP spellings
        // `startingTimestamp` (first commit at or after) /
        // `endingTimestamp` (newest commit at or before), resolved
        // through the same backend clocks as the stream and time
        // travel. One forward manifest pass inside — manifests are
        // cumulative, a per-version delta helper would read each
        // twice. Merge-on-read commits surface as labeled synthetic
        // partitions (the DV-diff synthesis TxLog.changeFeed does, on
        // the DSv2 executor read path).
        def tsMillis(raw: String): Long = TxLogScan.parseTsMillis(raw)
        require(opt("startingVersion").isEmpty ||
          opt("startingTimestamp").isEmpty, "graft-txlog: startingVersion " +
          "and startingTimestamp are mutually exclusive")
        require(opt("endingVersion").isEmpty ||
          opt("endingTimestamp").isEmpty, "graft-txlog: endingVersion " +
          "and endingTimestamp are mutually exclusive")
        val fromV = math.max(1L,
          opt("startingVersion").map(_.toLong)
            .orElse(opt("startingTimestamp").map(raw =>
              log.versionAtOrAfter(dir, tsMillis(raw))))
            .getOrElse(1L))
        val toV = opt("endingVersion").map(_.toLong)
          .orElse(opt("endingTimestamp").map(raw =>
            log.versionAsOf(dir, tsMillis(raw))))
          .getOrElse(cur)
        require(toV >= fromV && toV <= cur, s"graft-txlog: endingVersion " +
          s"$toV outside the range $fromV..$cur of $dir")
        checkCdfRangeSchemas(fromV, toV)
        return planCdfVersions(fromV, toV, skip)
      }
      val effV = asOf match {
        case Some(v) =>
          if (scala.util.Try(log.liveRelsAt(dir, v)).isFailure)
            sys.error(s"graft-txlog: cannot read $dir at version $v — " +
              "its manifest is expired (vacuumed past retention)")
          v
        case None => cur
      }
      val rels = log.liveRelsAt(dir, effV)
      packPartitions(Seq((effV, rels.filterNot(skippedFiles()))))
    }
    override def createReaderFactory(): PartitionReaderFactory =
      TxLogScan.this.createReaderFactory()
  }

  /** BATCH-CDF SCHEMA CONTRACT across evolution (stock Delta's rule):
    * the feed presents every row under the END presentation schema (the
    * scan's resolved table schema), which is sound only when each
    * version's IN-FORCE schema in the range is READ-COMPATIBLE with it —
    * additive changes null-fill preimages natively (an old file simply
    * lacks the new column), but a range spanning a DROP, RENAME, or
    * type change would silently re-shape historical rows into the new
    * schema (dropped columns vanish, renamed ones null-fill), so it
    * refuses loudly instead. Checked from the range start's in-force
    * schema plus each DECLARED change inside the range — metadata-scale
    * work, no file IO. */
  private[streaming] def checkCdfRangeSchemas(fromV: Long, toV: Long): Unit = {
    val spark = SparkSession.getActiveSession.getOrElse(
      sys.error("graft-txlog: no active SparkSession"))
    val pseudo = Set("_change_type", "_commit_version")
    val present = fullSchema.fields.filterNot(f => pseudo(f.name))
    def compat(v: Long, h: StructType): Unit = h.fields
      .filterNot(f => pseudo(f.name)).foreach { f =>
        present.find(_.name == f.name) match {
          case Some(p) if p.dataType == f.dataType => ()
          case Some(p) => sys.error(s"graft-txlog: readChangeFeed range " +
            s"$fromV..$toV of $dir spans a schema change — column " +
            s"'${f.name}' was ${f.dataType.simpleString} at version $v " +
            s"but presents as ${p.dataType.simpleString}; stock Delta " +
            "refuses read-incompatible CDF ranges — narrow the range or " +
            "read the snapshots")
          case None => sys.error(s"graft-txlog: readChangeFeed range " +
            s"$fromV..$toV of $dir spans a DROP/RENAME — column " +
            s"'${f.name}' was in force at version $v but is not in the " +
            "presented schema; stock Delta refuses read-incompatible " +
            "CDF ranges — narrow the range or read the snapshots")
        }
      }
    val start = math.max(1L, fromV)
    // the range-start in-force schema is the HALF of the check that
    // catches a rename/drop declared BEFORE any change inside the
    // range — if it cannot be derived, refuse rather than silently
    // skip the contract in exactly the degraded-history case
    compat(start, scala.util.Try(log.schemaAt(spark, dir, start))
      .getOrElse(sys.error(s"graft-txlog: readChangeFeed range " +
        s"$fromV..$toV of $dir — the schema in force at version $start " +
        "cannot be derived (expired or unreadable history), so " +
        "read-compatibility with the presented schema cannot be " +
        "proven; start the range at a retained version")))
    ((start + 1) to toV).foreach { v =>
      log.declaredSchemaAt(dir, v).foreach(compat(v, _))
    }
  }

  /** Added files of one version, classified per the non-append rule —
    * shared by the micro-batch stream and the CDF batch read. The
    * manifest's own `#op` header (written atomically WITH the commit)
    * answers instantly; manifests from pre-`#op` writers fall back to
    * one Delta-mirror read and classify conservatively as a data
    * change when both are silent (the change policy recovers). */
  private[streaming] def classifiedAddsOf(v: Long,
      policy: ChangePolicy): Seq[String] = {
    val (added, removed) = log.commitDelta(dir, v)
    classify(v, added, removed.nonEmpty, policy)
  }

  private def classify(v: Long, added: Seq[String], removedAny: Boolean,
      policy: ChangePolicy): Seq[String] = {
    if (!removedAny) return added
    val table = Paths.get(dir)
    val bytesOnly = log.manifestOp(dir, v).map(!_._2)
      .orElse(graft.sources.DeltaLog.isBytesOnlyCommit(table, v))
    if (bytesOnly.contains(true)) Seq.empty // OPTIMIZE/REORG: rows already delivered
    else if (policy.skipChangeCommits) Seq.empty
    // stock Delta's LEGACY spellings, kept for migration parity:
    //  - ignoreChanges: deliver the change commit's NEW files anyway —
    //    documented at-least-once (surviving rows re-deliver; the
    //    consumer dedups downstream). Subsumes ignoreDeletes.
    //  - ignoreDeletes: skip commits that ONLY remove (partition-drop
    //    shape); rewrites that also add still fail loudly.
    else if (policy.ignoreChanges) added
    else if (policy.ignoreDeletes && added.isEmpty) Seq.empty
    else sys.error(s"graft-txlog: version $v of $dir removed files — a " +
      "DELETE/UPDATE/MERGE rewrite cannot stream as an append (its " +
      "surviving rows were already delivered). Set " +
      ".option(\"skipChangeCommits\",\"true\") to skip such commits " +
      "(or the legacy ignoreDeletes/ignoreChanges spellings).")
  }

  /** Resolve (version, manifest-relative files) to [[FilePartition]]s:
    * partition values parsed from the hive segments and typed by the
    * table schema, CDF pseudo-values appended when reading the change
    * feed, whole files bin-packed by Spark's own size-based packer
    * (maxPartitionBytes/openCost aware — the 100 TB-shaped planning a
    * hand-rolled one-file-one-task split would lose).
    */
  /** DELETION VECTORS, read natively: current-version descriptors
    * keyed by absolute data-file path. DV'd files pack into
    * SINGLE-FILE partitions read through the parquet ROW path with the
    * reader's generated row-index column, filtered executor-side
    * against the broadcast bitmap ([[DvReaderFactory]]); DV-free files
    * keep the columnar fast path untouched. Semantics are
    * read-start-consistent: a stream replaying old versions applies
    * the DVs in force when the scan was built — append-mode streams
    * cannot retract already-emitted rows, and the typed
    * `TxLog.changeFeed` is the retraction-aware view. */
  private lazy val dvByAbs: Map[String, String] = {
    val table = Paths.get(dir)
    // a time-travel read applies the DVs in force AT THAT VERSION — a
    // later delete must not hide rows from a historical snapshot
    asOf.orElse(log.currentVersion(dir))
      .map(v => log.manifestDvs(dir, v).map { case (rel, d) =>
        // key through the SAME SparkPath conversion the lookup uses, so
        // escaped path segments can't split the two spellings
        SparkPath.fromPathString(table.resolve(rel).toString)
          .toPath.toUri.getPath -> d })
      .getOrElse(Map.empty)
  }

  /** Per-version manifest partition-value maps (hive-layout foreign
    * Iceberg trees; empty elsewhere), cached per scan — one cheap map
    * build per (version, scan), not one per file. BOUNDED: planning
    * only ever looks up the current version and its predecessor, so a
    * tiny access-order LRU suffices — unbounded, a long-lived tail of
    * an active hive-layout tree would accrete one O(live files) map
    * per admitted version for the scan's lifetime (the leak class the
    * foreign-Delta seed cache fixed in round 14). Planning is
    * driver-side and single-threaded per batch; the synchronization
    * only guards scan reuse across batches. */
  private val manifestPartVals =
    new java.util.LinkedHashMap[Long, Map[String, Map[String, String]]](
        8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Map[String, Map[String, String]]])
          : Boolean = size() > 4
    }
  private def partValsAt(v: Long): Map[String, Map[String, String]] =
    manifestPartVals.synchronized {
      Option(manifestPartVals.get(v)).getOrElse {
        val m = log.filePartitionValues(dir, v)
        manifestPartVals.put(v, m)
        m
      }
    }

  /** One manifest-relative file as a [[PartitionedFile]]: partition
    * values from the backend's MANIFEST TUPLES when it has them
    * (hive-layout foreign Iceberg) else parsed from the hive path
    * segments, typed by the table schema; CDF pseudo-values appended
    * as constants when reading the change feed. */
  private def mkPartitionedFile(v: Long, rel: String,
      changeType: String): PartitionedFile = {
    val spark = SparkSession.getActiveSession.getOrElse(
      sys.error("graft-txlog: no active SparkSession"))
    val table = Paths.get(dir)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val abs = table.resolve(rel)
    val segs = rel.split("/").dropRight(1).filter(_.contains("=")).map { s =>
      val i = s.indexOf('=')
      (TxLogScan.unescapePath(s.take(i)), TxLogScan.unescapePath(s.drop(i + 1)))
    }.toMap
    val appendedVals = readPartSchema.fields.map { f =>
      f.name match {
        case "_change_type" if cdf => UTF8String.fromString(changeType)
        case "_commit_version" if cdf => v
        case name =>
          // column-mapped foreign tables hive-partition by the PHYSICAL
          // column name — the segment lookup translates, the scan keeps
          // presenting the logical one. Manifest tuples (hive-layout
          // foreign Iceberg) are authoritative when present.
          val segKey = partPhysNames.getOrElse(name, name)
          // a REMOVED file (carryover-analysis deletes) is no longer
          // live at v — its tuple lives in the predecessor snapshot
          val raw = partValsAt(v).get(rel)
            .orElse(if (v > 1) partValsAt(v - 1).get(rel) else None)
            .map(_.getOrElse(name, null))
            .getOrElse(segs.getOrElse(segKey, sys.error(
              s"$dir: $rel lacks partition segment $segKey")))
          if (raw == null || raw == "__HIVE_DEFAULT_PARTITION__") null
          else f.dataType match {
            // manifest tuples serialize dates/timestamps as epoch
            // days/micros — Catalyst's exact internal forms, so a
            // digit string passes through; hive segments keep the
            // string cast below
            case org.apache.spark.sql.types.DateType
                if raw.matches("-?\\d+") => raw.toInt
            case org.apache.spark.sql.types.TimestampType
                if raw.matches("-?\\d+") => raw.toLong
            case _ => Cast(Literal(UTF8String.fromString(raw), StringType),
              f.dataType, Some(zone)).eval(null)
          }
      }
    }.toSeq
    val size = Files.size(abs)
    PartitionedFile(InternalRow.fromSeq(appendedVals),
      SparkPath.fromPathString(abs.toString), 0L, size, Array.empty,
      Files.getLastModifiedTime(abs).toMillis, size, Map.empty)
  }

  /** A protocol change-data file as a [[PartitionedFile]]. Graft cdc
    * files are FLAT (table columns, partition columns, `_change_type`
    * all DATA in the file; only `_commit_version` appends); a stock
    * partitioned writer's cdc files sit under hive `_change_data/`
    * segments, so their partition columns append from the PATH —
    * parsed, physical-name-translated, and typed exactly like a data
    * file's ([[mkPartitionedFile]]). The appended set is
    * [[cdcAppendedNames]] in both shapes, keeping this row aligned
    * with the cdc factory's partition schema by construction. */
  private def mkCdcFile(v: Long, rel: String): PartitionedFile = {
    val abs = Paths.get(dir).resolve(rel)
    val size = Files.size(abs)
    val spark = SparkSession.getActiveSession.getOrElse(
      sys.error("graft-txlog: no active SparkSession"))
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val segs = rel.split("/").dropRight(1).filter(_.contains("=")).map { s =>
      val i = s.indexOf('=')
      (TxLogScan.unescapePath(s.take(i)), TxLogScan.unescapePath(s.drop(i + 1)))
    }.toMap
    val vals: Seq[Any] = readPartSchema.fields.toSeq
      .filter(f => cdcAppendedNames(f.name)).map { f =>
        f.name match {
          case "_commit_version" => v
          case name =>
            val segKey = partPhysNames.getOrElse(name, name)
            val raw = segs.getOrElse(segKey, sys.error(
              s"$dir: cdc file $rel lacks partition segment $segKey"))
            if (raw == "__HIVE_DEFAULT_PARTITION__") null
            else Cast(Literal(UTF8String.fromString(raw), StringType),
              f.dataType, Some(zone)).eval(null)
        }
      }
    PartitionedFile(InternalRow.fromSeq(vals),
      SparkPath.fromPathString(abs.toString), 0L, size, Array.empty,
      Files.getLastModifiedTime(abs).toMillis, size, Map.empty)
  }

  private[streaming] def packPartitions(
      versioned: Seq[(Long, Seq[String])],
      changeTypeOf: Long => String = _ => "insert"): Array[InputPartition] = {
    val spark = SparkSession.getActiveSession.getOrElse(sys.error("graft-txlog: no active SparkSession"))
    val files = versioned.flatMap { case (v, rels) =>
      rels.map(rel => mkPartitionedFile(v, rel, changeTypeOf(v)))
    }
    val maxSplit = FilePartition.maxSplitBytes(spark, files.map(_.length).sum)
    // the CDF replay is RAW history — current-version DVs never apply
    // to it (a later delete must not erase an earlier insert from the
    // feed; the deletes surface as their own labeled rows instead)
    if (dvByAbs.isEmpty || cdf)
      return FilePartition.getFilePartitions(spark, files, maxSplit).toArray
    // DV'd files become single-file partitions (never merged or split)
    // so the per-partition reader knows its ONE file's bitmap a priori;
    // everything else packs normally and keeps columnar reads
    val (dvf, clean) = files.partition(f =>
      dvByAbs.contains(f.filePath.toPath.toUri.getPath))
    val packed = FilePartition.getFilePartitions(spark, clean, maxSplit) ++
      dvf.map(f => FilePartition(0, Array(f)))
    packed.zipWithIndex.map { case (p, i) =>
      FilePartition(i, p.files): InputPartition }.toArray
  }

  /** Plan the CDF replay of versions `[fromV, toV]`: one labeled entry
    * per data-changing commit —
    *
    *  - appends → their files, `_change_type` = `insert` (constant);
    *  - merge-on-read DELETE/UPDATE → the NEWLY-HIDDEN ordinals of each
    *    affected file as [[CdfHiddenPartition]]s (`delete` /
    *    `update_preimage`), plus the UPDATE's appended batch as
    *    `update_postimage`;
    *  - MERGE → its protocol change-data files as
    *    [[CdfCdcPartition]]s when CDF was enabled (`_change_type` is a
    *    real column there — the appended batch mixes postimages and
    *    inserts), refusing loudly otherwise;
    *  - bytes-only commits (OPTIMIZE/ZORDER) → nothing;
    *  - copy-on-write rewrites → their per-row-typed change-data files
    *    when CDF was enabled at DML time (checked BEFORE the DV diff —
    *    a rewrite that dropped removed files' DV entries also changes
    *    the DV map, exactly as [[graft.sources.TxLog.changeFeed]]
    *    orders the same tests), else the [[classify]] contract
    *    (`skipChangeCommits` or loud failure);
    *  - `skipChangeCommits` skips EVERY change-commit shape —
    *    merge-on-read DV diffs included — delivering nothing for the
    *    version.
    *
    * Scale shape: the DV diff is bitmap set-difference per affected
    * file (driver-side, O(hidden rows) — the same walk every DV
    * descriptor consumer does); the hidden rows themselves are read by
    * EXECUTORS from the unchanged files. Sets [[cdfSynthetic]] so the
    * reader factory knows to route synthetic partitions through the
    * row-index path. */
  private[streaming] def planCdfVersions(fromV: Long, toV: Long,
      skipChangeCommits: Boolean): Array[InputPartition] = {
    val table = Paths.get(dir)
    // a change feed REPLAYS per commit — on a checkpoint-compacted
    // foreign log the aged-out prefix is unreplayable, and the append
    // stream's escape hatch ("drop startingVersion for the seeded
    // snapshot") does not exist here (a CDF read has no initial
    // snapshot), so refuse with the floor instead of failing mid-parse
    // with circular advice
    val floor = log.cdfReplayFloor(dir)
    if (math.max(1L, fromV) < floor)
      sys.error(s"graft-txlog: readChangeFeed cannot replay versions " +
        s"${math.max(1L, fromV)}..${floor - 1} of $dir — their per-commit " +
        "JSON was aged out past the newest checkpoint, and a change feed " +
        "has no initial-snapshot fallback (that applies to append streams " +
        s"only); set startingVersion to a retained version (>= $floor)")
    val plain = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    val plainType = scala.collection.mutable.Map.empty[Long, String]
    val synthetic = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    // the DV map is folded ONCE per version, carried iteration-to-
    // iteration — the foreign backends derive manifestDvs(v) by an
    // O(v) replay, so re-deriving both endpoints per version would
    // make a long CDF resume O(range × v)
    val start = math.max(1L, fromV)
    var dvPrev: Map[String, String] =
      if (start <= 1) Map.empty else log.manifestDvs(dir, start - 1)
    log.commitDeltasRange(dir, fromV, toV).foreach {
      case (v, added, removedAny) =>
        val (op, dataChange) =
          log.manifestOp(dir, v).getOrElse(("WRITE", true))
        val dvNow = log.manifestDvs(dir, v)
        val cdc = log.manifestCdc(dir, v)
        // merge-on-read DV-diff synthesis, shared by the plain MoR
        // branch and the Iceberg-changelog MERGE shape below
        def dvDiffSynthesis(hiddenType: String, addedType: String): Unit = {
          dvNow.foreach { case (rel, json) =>
            if (!dvPrev.get(rel).contains(json)) {
              val now = graft.sources.DeletionVectors
                .parse(graft.sources.DeletionVectors.bytesOf(table, json))
                .values.toSet
              val prev = dvPrev.get(rel).map(j =>
                graft.sources.DeletionVectors.parse(
                  graft.sources.DeletionVectors.bytesOf(table, j))
                  .values.toSet).getOrElse(Set.empty[Long])
              val fresh = (now -- prev).toSeq.sorted
              if (fresh.nonEmpty)
                synthetic += CdfHiddenPartition(
                  mkPartitionedFile(v, rel, hiddenType),
                  graft.sources.DeletionVectors.serialize(fresh))
            }
          }
          if (added.nonEmpty) { plain += ((v, added)); plainType(v) = addedType }
        }
        if (!dataChange) () // OPTIMIZE/ZORDER: rows already delivered
        else if (op == "MERGE") {
          // a MERGE is a change commit (insert-only merges degenerate
          // to plain appends and never carry the MERGE op) — with
          // skipChangeCommits the whole version delivers nothing
          if (skipChangeCommits) ()
          else if (cdc.nonEmpty)
            synthetic ++= cdc.map(rel => CdfCdcPartition(mkCdcFile(v, rel)))
          else if (!removedAny && log == graft.sources.ForeignIcebergLog)
            // an Iceberg MoR row-delta (the Flink-CDC upsert: new data
            // files + new delete files, no data file removed) has NO
            // update images by FORMAT DESIGN — stock Iceberg's own
            // changelog emits DELETE + INSERT pairs for exactly this
            // shape, so the feed types the newly-hidden rows `delete`
            // and the appended batch `insert` (the DV diff attributes
            // them exactly; nothing mixes)
            dvDiffSynthesis("delete", "insert")
          else if (log == graft.sources.ForeignIcebergLog)
            // foreign-Iceberg MERGE that BOTH adds delete files and
            // removes data files (upsert + compaction in one snapshot):
            // the carryover analysis and the delete-file diff cannot
            // attribute one batch between them — Iceberg has no cdc
            // escape hatch, so the advice is operational
            sys.error(s"graft-txlog: version $v of $dir adds delete " +
              "files AND removes data files in one snapshot — the " +
              "change feed cannot attribute its batch between the " +
              "delete-file diff and carryover analysis; commit upserts " +
              "and compactions separately, or set skipChangeCommits")
          else
            sys.error(s"graft-txlog: version $v of $dir is a MERGE " +
              "without change-data files — its appended batch mixes " +
              "update_postimage and insert rows, which the DV diff " +
              "cannot attribute; enable delta.enableChangeDataFeed " +
              "before merging, or set skipChangeCommits")
        }
        else if (removedAny && cdc.nonEmpty) {
          // removedAny FIRST (matching TxLog.changeFeed's ordering): a
          // copy-on-write rewrite whose removed candidates carried DVs
          // also changes the manifest DV map (commitRewrite drops their
          // entries), so the DV-diff test alone would misclassify it as
          // merge-on-read and deliver the whole rewritten batch —
          // survivors included — untyped. Under CDF the commit wrote
          // per-row-typed change-data files: read those (the added
          // batch mixes survivors with new row versions, so it can
          // never feed directly); cdc-less rewrites keep the classify
          // contract below. A cdc-carrying rewrite IS a change commit —
          // skipChangeCommits skips it entirely, like every other shape.
          if (!skipChangeCommits)
            synthetic ++= cdc.map(rel => CdfCdcPartition(mkCdcFile(v, rel)))
        }
        else if (!removedAny && dvNow != dvPrev) {
          // merge-on-read DELETE/UPDATE: a change commit — with
          // skipChangeCommits the whole version delivers nothing (the
          // appended postimage batch included), matching how the MERGE
          // and classify branches skip their change-commit shapes
          if (!skipChangeCommits) {
            if (op == "UPDATE") dvDiffSynthesis("update_preimage", "update_postimage")
            else dvDiffSynthesis("delete", "insert")
          }
        }
        else if (removedAny && log == graft.sources.ForeignIcebergLog) {
          // foreign-Iceberg COPY-ON-WRITE rewrite (Spark-on-Iceberg
          // MERGE/DELETE/UPDATE: data files removed, survivors
          // re-housed in new files, no cdc anywhere in the format) —
          // stock Iceberg's changelog resolves it with CARRYOVER
          // ANALYSIS, and so does this feed ([[planCarryover]]). A
          // snapshot that ALSO changes delete files keeps the loud
          // refusal: its net rows would mix two attribution rules.
          if (!skipChangeCommits) {
            if (dvNow != dvPrev)
              sys.error(s"graft-txlog: version $v of $dir rewrites data " +
                "files AND changes delete files in one snapshot — the " +
                "carryover analysis and the DV diff cannot attribute " +
                "one batch between them; set skipChangeCommits to skip it")
            val (_, removedRels) = log.commitDelta(dir, v)
            synthetic ++= planCarryover(v, removedRels, added)
          }
        }
        else {
          val cls = classify(v, added, removedAny,
            ChangePolicy(skipChangeCommits, false, false))
          if (cls.nonEmpty) { plain += ((v, cls)); plainType(v) = "insert" }
        }
        dvPrev = dvNow
    }
    cdfSynthetic = synthetic.nonEmpty
    packPartitions(pruneRels(plain.toSeq.filter(_._2.nonEmpty)),
      v => plainType.getOrElse(v, "insert")) ++ synthetic
  }

  /** Set by [[planCdfVersions]]: any synthetic partition (hidden-row or
    * cdc-file) forces the whole scan onto the row read path — Spark's
    * DataSourceRDD refuses mixed row/columnar partitions. Plain CDF
    * replays (append-only history) keep the columnar fast path. */
  @volatile private var cdfSynthetic = false

  /** CARRYOVER ANALYSIS for a copy-on-write REWRITE commit without
    * change-data files (stock Iceberg's `create_changelog_view`
    * procedure, the CoW MERGE/DELETE/UPDATE shape every Spark-on-
    * Iceberg writer produces): rows present in BOTH the removed and the
    * added files are carryovers the rewrite merely re-housed — not
    * changes — so the feed emits only the NET difference, typed
    * `delete` (in removed, not re-added) / `insert` (in added, not
    * removed). Multiset semantics via per-tuple ranking: a tuple
    * occurring r times before and a times after nets max(0, r-a)
    * deletes and max(0, a-r) inserts, exactly stock's count-based
    * carryover rule (null keys group together on both sides).
    *
    * Scale shape: the compare is one EXECUTOR-side job over just the
    * rewritten files' rows (a window rank + a null-safe count join —
    * O(rewritten rows), never the table); the net rows reduce to
    * per-file roaring bitmaps EXECUTOR-side
    * ([[graft.functions.DvBitmapAgg]]), so the driver collects
    * O(affected files) bitmap-byte rows, never O(change rows) tuples.
    * The net rows themselves are then read by executors through the
    * same row-index bitmap partitions the DV diff uses.
    *
    * Renamed tables (a foreign-Iceberg field id that ever carried more
    * than one name) read BOTH sides through the same field-id-annotated
    * schema the scan itself uses ([[CommitLog.fileFieldRename]]):
    * a by-name read would bind pre-rename files' renamed column to
    * null, mis-netting unchanged carried-over rows into spurious
    * delete/insert pairs. */
  private[streaming] def planCarryover(v: Long, removed: Seq[String],
      added: Seq[String]): Seq[InputPartition] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = SparkSession.getActiveSession.getOrElse(
      sys.error("graft-txlog: no active SparkSession"))
    val table = Paths.get(dir)
    // map-typed columns have no equality Spark can group/join on — the
    // compare would die in analysis; refuse with the change-commit
    // escape hatch instead
    def unorderable(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.MapType => true
        case s: StructType => s.fields.exists(f => unorderable(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          unorderable(a.elementType)
        case _ => false
      }
    dataSchema.fields.find(f => unorderable(f.dataType)).foreach(f =>
      sys.error(s"graft-txlog: version $v of $dir is a rewrite and the " +
        s"table carries map-typed column '${f.name}' — carryover " +
        "analysis cannot compare it; set skipChangeCommits to skip " +
        "rewrite commits"))
    val dataCols = dataSchema.fieldNames.toSeq
    // appended (manifest-tuple) partition values join INTO the compare:
    // on hive-layout trees the partition column is not in the files,
    // and a rewrite that moves a row across partitions with identical
    // data columns must net delete+insert, not carryover
    val partVals: Map[String, Map[String, String]] =
      if (partCols.isEmpty) Map.empty
      else (if (v > 1) partValsAt(v - 1)
            else Map.empty[String, Map[String, String]]) ++ partValsAt(v)
    val appendedPart = partCols.filter(_ => partVals.nonEmpty)
    val cols = dataCols ++ appendedPart.map(c => s"__pp_$c")
    // renamed tables: annotate the read schema with parquet field ids
    // and ensure the session resolution flag (sticky — the same rule
    // buildParquetFactory applies; these reads execute AFTER planning
    // returns, inside the net aggregates below)
    val sideSchema = toFileSchema(dataSchema)
    CommitLog.ensureFieldIdSessionFlag(spark, dir)
    def side(rels: Seq[String]) = {
      val base = spark.read.schema(sideSchema)
        .parquet(rels.map(r => table.resolve(r).toString): _*)
        .select(dataCols.map(col) :+
          graft.sources.IcebergLog.normPathCol(col("_metadata.file_path"))
            .as("__file") :+
          col("_metadata.row_index").as("__pos"): _*)
      if (appendedPart.isEmpty) base
      else {
        // one broadcast (file → tuple values) join per side — both
        // sides derive from the same manifest maps, so the compare
        // stays consistent by construction
        val rows = rels.map { rel =>
          val key = SparkPath.fromPathString(table.resolve(rel).toString)
            .toPath.toUri.getPath
          val vals = partVals.getOrElse(rel, Map.empty)
          org.apache.spark.sql.Row.fromSeq(
            key +: appendedPart.map(c => vals.getOrElse(c, null)))
        }
        val schema = StructType(
          StructField("__pf", StringType, nullable = false) +:
            appendedPart.map(c => StructField(s"__pp_$c", StringType, true)))
        val pv = spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
        base.join(broadcast(pv), col("__file") === col("__pf"), "left")
          .drop("__pf")
      }
    }
    def ranked(df: DataFrame) = df.withColumn("__rk",
      row_number().over(Window.partitionBy(cols.map(col): _*)
        .orderBy(col("__file"), col("__pos"))))
    def counted(df: DataFrame, cName: String) =
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as(cName))
        .select(cols.map(c => col(c).as(s"__o_$c")) :+ col(cName): _*)
    val matchCond = cols.map(c => col(c) <=> col(s"__o_$c")).reduce(_ && _)
    // net rows reduce to per-file bitmaps EXECUTOR-side; the driver's
    // collect is O(affected files) rows of KB-scale roaring bytes
    def net(keep: DataFrame, other: DataFrame,
        cName: String): Seq[(String, Array[Byte])] =
      ranked(keep).join(counted(other, cName), matchCond, "left")
        .filter(col("__rk") > coalesce(col(cName), lit(0L)))
        .groupBy(col("__file"))
        .agg(graft.functions.DvBitmapAgg.dvAgg(col("__pos")).as("__dv"))
        .collect().toSeq.map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val r = side(removed)
    val a = side(added)
    val dels = net(r, a, "__ca")
    val ins = net(a, r, "__cr")
    TxLogScan.lastCarryoverFold = Some((dels.size + ins.size,
      (dels ++ ins).map(_._2.length.toLong).sum))
    // normalized executor spelling → the manifest rel, fail-closed
    val relOf: Map[String, String] = (removed ++ added).map { rel =>
      SparkPath.fromPathString(table.resolve(rel).toString)
        .toPath.toUri.getPath -> rel
    }.toMap
    def parts(pairs: Seq[(String, Array[Byte])], changeType: String) =
      pairs.sortBy(_._1).map { case (abs, bytes) =>
        val rel = relOf.getOrElse(abs, sys.error(
          s"graft-txlog: carryover row maps to no planned file " +
            s"(path canonicalization bug?): $abs"))
        CdfHiddenPartition(mkPartitionedFile(v, rel, changeType), bytes)
      }
    parts(dels, "delete") ++ parts(ins, "insert")
  }

  /** Spark's own vectorized parquet reader factory, configured exactly
    * as `ParquetScan.createReaderFactory` configures it (requested
    * schema, session zone, int96/binary semantics) — so the executor
    * read path, columnar batches included, is byte-for-byte the native
    * parquet scan's. */
  private[streaming] def createReaderFactory(): PartitionReaderFactory = {
    TxLogScan.lastScan = Some((readSchema(), allFilters.length))
    val plain = buildParquetFactory(readDataSchema)
    if (cdf) {
      if (!cdfSynthetic) return plain // append-only history: columnar
      val idxField = StructField(
        org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
          .ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = false)
      val hiddenInner = buildParquetFactory(
        StructType(readDataSchema.fields :+ idxField), vectorized = false)
      // graft cdc files carry the table's data AND partition columns
      // plus `_change_type` as real columns (written flat; only
      // `_commit_version` appends); a stock partitioned writer's cdc
      // files carry data + `_change_type` in-file and the partition
      // columns append from their hive segments — cdcAppendedNames
      // splits the two shapes, mkCdcFile builds the matching row
      val cdcData = StructType(readDataSchema.fields ++
        readPartSchema.fields.filterNot(f => cdcAppendedNames(f.name)))
      val cdcBaseline = StructType(dataSchema.fields ++
        fullSchema.fields.filter(f => appendedNames(f.name) &&
          !cdcAppendedNames(f.name)))
      val cdcPart = StructType(
        readPartSchema.fields.filter(f => cdcAppendedNames(f.name)))
      val cdcInner = buildParquetFactory(cdcData,
        partSchema = cdcPart, baseline = cdcBaseline)
      // a cdc read produces [cdcData..., cdcPart...]; on the foreign-
      // partitioned shape that ordering differs from the scan's
      // declared [data, partition, _change_type, _commit_version] —
      // DSv2 binds by POSITION, so the executor reorders (identity =
      // no wrap, the graft-flat fast path)
      val cdcProduced = StructType(cdcData.fields ++ cdcPart.fields)
      val cdcReorder = readSchema().fields.map(f =>
        cdcProduced.fieldIndex(f.name))
      return new CdfReaderFactory(plain, hiddenInner, cdcInner,
        StructType(readDataSchema.fields ++ (idxField +: readPartSchema.fields)),
        readDataSchema.length, cdcProduced, cdcReorder)
    }
    if (dvByAbs.isEmpty) return plain
    val spark = SparkSession.getActiveSession.getOrElse(
      sys.error("graft-txlog: no active SparkSession"))
    val table = Paths.get(dir)
    // ship the (small, compressed) bitmap BYTES, not parsed structures;
    // each DV partition parses its one bitmap at reader creation
    val bytes: Map[String, Array[Byte]] = dvByAbs.map { case (abs, d) =>
      abs -> graft.sources.DeletionVectors.bytesOf(table, d) }
    val idxField = StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = false)
    // the row-index generator rides the NON-vectorized record reader
    // (ParquetRowIndexUtil.addRowIndexToRecordReaderIfNeeded); the
    // vectorized path wrapped row-wise surfaces 0-column batch rows
    val dvInner = buildParquetFactory(
      StructType(readDataSchema.fields :+ idxField), vectorized = false)
    new DvReaderFactory(plain, dvInner, spark.sparkContext.broadcast(bytes),
      StructType(readDataSchema.fields ++ (idxField +: readPartSchema.fields)),
      readDataSchema.length)
  }

  /** COLUMN-MAPPED foreign tables: the files carry physical
    * (`col-<uuid>`) column names, so the factory's requested/baseline
    * schemas translate field-by-field — a physical RENAME under mode
    * "name", a `parquet.field.id` ANNOTATION under mode "id" (with
    * field-id resolution force-enabled below) — positions and types
    * untouched, making the produced rows positionally identical to the
    * logical `readSchema()` downstream consumes (DSv2 binds columns by
    * position, never by name). Pushed filters translate their column
    * references through the SAME logical→physical map (files carry
    * physical names under both modes), so mapped tables keep parquet
    * row-group/page pruning; a filter with an untranslatable reference
    * just drops from the hint — every filter stays a residual, so
    * correctness never depends on the translation. */
  private lazy val toFileSchema: StructType => StructType =
    log.fileFieldRename(dir).getOrElse(identity)
  private lazy val fileRenamed: Boolean =
    log.fileFieldRename(dir).isDefined

  /** `dataFilters` with references respelled physically for the file
    * footers (identity for unmapped tables). */
  private lazy val fileFilters: Array[SFilter] =
    if (!fileRenamed) dataFilters
    else {
      val m = log.physicalPathMap(dir)
      dataFilters.flatMap(TxLogScan.renameFilterCols(_, m))
    }

  private def buildParquetFactory(requested0: StructType,
      vectorized: Boolean = true,
      partSchema: StructType = null,
      baseline: StructType = null): ParquetPartitionReaderFactory = {
    val requested = toFileSchema(requested0)
    val effPart = Option(partSchema).getOrElse(readPartSchema)
    val effBase = toFileSchema(Option(baseline).getOrElse(dataSchema))
    val spark = SparkSession.getActiveSession.getOrElse(sys.error("graft-txlog: no active SparkSession"))
    // FIELD-ID tables (Delta mapping mode "id"; Iceberg with a rename in
    // its history) need the resolution flag in TWO places: Spark's
    // VECTORIZED reader honors the hadoopConf flag set below, but the
    // ROW-path converter (the row-index reads merge-on-read/DV/CDF
    // partitions ride) consults the SESSION conf via SQLConf.get — left
    // unset, those reads would silently NULL every id-resolved column.
    CommitLog.ensureFieldIdSessionFlag(spark, dir)
    val sqlConf =
      if (vectorized) spark.sessionState.conf
      else {
        val c = spark.sessionState.conf.clone()
        c.setConf(SQLConf.PARQUET_VECTORIZED_READER_ENABLED, false)
        c
      }
    // id-mode column mapping resolves columns by the parquet field
    // ids the writer stamped — force the resolution on for the scan
    // (the translated requested schema carries the id metadata)
    val fieldIdRead = sqlConf.parquetFieldIdReadEnabled ||
      log.fileFieldIdRead(dir)
    // every input the broadcast conf is built from participates in the
    // memo key — the explicitly-copied SQLConf values below PLUS a
    // fingerprint of the mutable base conf (SparkContext Hadoop conf +
    // full session SQL-conf map) that newHadoopConfWithOptions folds
    // into the built configuration — so ANY mid-session conf change
    // builds fresh instead of serving a stale broadcast (see
    // TxLogScan.confBcMemo). Options encode with explicit record and
    // field separators so adjacent keys/values cannot alias.
    val bcKey = (spark.sparkContext.applicationId, dir,
      options.toSeq.sorted
        .map { case (k, v) => k + "\u0000" + v }.mkString("\u0001"),
      requested.json,
      sqlConf.sessionLocalTimeZone, sqlConf.nestedSchemaPruningEnabled,
      sqlConf.caseSensitiveAnalysis, sqlConf.isParquetBinaryAsString,
      sqlConf.isParquetINT96AsTimestamp, sqlConf.legacyParquetNanosAsLong,
      fieldIdRead, sqlConf.parquetInferTimestampNTZEnabled,
      TxLogScan.baseConfFingerprint(spark))
    val bc = TxLogScan.confBroadcast(bcKey) {
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
      hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
        classOf[ParquetReadSupport].getName)
      hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
      hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requested.json)
      hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key,
        sqlConf.sessionLocalTimeZone)
      hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
        sqlConf.nestedSchemaPruningEnabled)
      hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key,
        sqlConf.caseSensitiveAnalysis)
      hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
        sqlConf.isParquetBinaryAsString)
      hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
        sqlConf.isParquetINT96AsTimestamp)
      hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
        sqlConf.legacyParquetNanosAsLong)
      hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, fieldIdRead)
      hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
        sqlConf.parquetInferTimestampNTZEnabled)
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    }
    TxLogScan.lastFileFilters = fileFilters
    ParquetPartitionReaderFactory(sqlConf, bc, effBase, requested,
      effPart, fileFilters, None,
      new ParquetOptions(options, sqlConf))
  }
}

/** Executor-side deletion-vector application for the DSv2 scan: clean
  * partitions delegate untouched (columnar fast path included); a DV'd
  * partition — always a single file by [[TxLogScan.packPartitions]]'s
  * construction — reads through the parquet ROW path with the
  * generated row-index column, drops the rows its bitmap hides, and
  * projects the temporary column back out. The bitmaps travel as their
  * compressed serialized bytes in one broadcast; each reader parses
  * exactly its own file's. */
private[streaming] class DvReaderFactory(
    clean: PartitionReaderFactory,
    dv: PartitionReaderFactory,
    bitmaps: org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]],
    dvOutSchema: StructType,
    idxOrdinal: Int) extends PartitionReaderFactory {

  private def dvKeyOf(p: InputPartition): Option[String] = p match {
    case fp: FilePartition if fp.files.length == 1 =>
      Some(fp.files.head.filePath.toPath.toUri.getPath)
        .filter(bitmaps.value.contains)
    case _ => None
  }

  // Spark's DataSourceRDD refuses MIXED row/columnar partitions in one
  // scan, so a scan touching any DV'd file reads entirely through the
  // row path (clean partitions via the untouched plain factory). The
  // column-prune and file-skip machinery still applies; this is the
  // same vectorization trade every DV-reading engine makes.
  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    dvKeyOf(p) match {
      case None => clean.createReader(p)
      case Some(key) =>
        val inner = dv.createReader(p)
        val bm = graft.sources.DeletionVectors.parse(bitmaps.value(key))
        val keep = dvOutSchema.indices.filterNot(_ == idxOrdinal)
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(keep.map(i =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, dvOutSchema(i).dataType, true)))
        new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (inner.next()) {
              val r = inner.get()
              if (!bm.contains(r.getLong(idxOrdinal))) {
                cur = proj(r)
                return true
              }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = inner.close()
        }
    }
}

/** Executor-side CDF synthesis for the DSv2 change-feed scan over a
  * merge-on-read history:
  *  - [[CdfHiddenPartition]]s read their ONE file through the parquet
  *    row-index path and KEEP exactly the newly-hidden ordinals (the
  *    inverse of [[DvReaderFactory]]'s exclusion filter), projecting
  *    the temporary index column back out — the hidden rows surface
  *    with the `_change_type`/`_commit_version` constants the planner
  *    baked into the partition values;
  *  - [[CdfCdcPartition]]s read a protocol change-data file through
  *    `cdc`, whose requested schema pulls the table columns, partition
  *    columns, and `_change_type` AS DATA (a merge's batch mixes row
  *    types) with `_commit_version` appended — the output ordering
  *    matches the scan schema by construction;
  *  - everything else (labeled appends) delegates to the plain
  *    factory, row-path because one scan cannot mix row and columnar
  *    partitions.
  */
private[streaming] class CdfReaderFactory(
    plain: PartitionReaderFactory,
    hiddenInner: PartitionReaderFactory,
    cdc: PartitionReaderFactory,
    hiddenSchema: StructType,
    idxOrdinal: Int,
    cdcProduced: StructType,
    cdcReorder: Array[Int]) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = false

  private def reorderedCdc(inner:
      org.apache.spark.sql.connector.read.PartitionReader[InternalRow])
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    if (cdcReorder.zipWithIndex.forall { case (s, t) => s == t }) return inner
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(cdcReorder.toSeq.map(i =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, cdcProduced(i).dataType, true)))
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = proj(inner.get())
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    p match {
      case CdfCdcPartition(file) =>
        reorderedCdc(cdc.createReader(FilePartition(0, Array(file))))
      case CdfHiddenPartition(file, bytes) =>
        val inner = hiddenInner.createReader(FilePartition(0, Array(file)))
        val bm = graft.sources.DeletionVectors.parse(bytes)
        val keep = hiddenSchema.indices.filterNot(_ == idxOrdinal)
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(keep.map(i =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, hiddenSchema(i).dataType, true)))
        new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
          private var cur: InternalRow = _
          override def next(): Boolean = {
            while (inner.next()) {
              val r = inner.get()
              if (bm.contains(r.getLong(idxOrdinal))) {
                cur = proj(r)
                return true
              }
            }
            false
          }
          override def get(): InternalRow = cur
          override def close(): Unit = inner.close()
        }
      case other => plain.createReader(other)
    }
}

/** The `maxVersionsPerTrigger` admission-control contract as a native
  * DSv2 [[ReadLimit]] — the source produces it in `getDefaultReadLimit`
  * and consumes it in `latestOffset(start, limit)`; the engine passes
  * it through (and pins it under the AvailableNow protocol). */
case class MaxVersions(maxVersions: Long) extends ReadLimit

/** How an append stream treats a CHANGE commit (a version that removed
  * files): `skipChangeCommits` (the current stock option — skip every
  * change shape), plus Delta's LEGACY migration spellings
  * `ignoreDeletes` (skip remove-only commits, fail on rewrites) and
  * `ignoreChanges` (deliver the commit's new files — documented
  * at-least-once re-delivery). */
private[streaming] case class ChangePolicy(skipChangeCommits: Boolean,
    ignoreDeletes: Boolean, ignoreChanges: Boolean)

/** CDF partition for one version's NEWLY-HIDDEN rows (a merge-on-read
  * DELETE/UPDATE): the single data file reads through the row-index
  * parquet path KEEPING exactly the ordinals in `bitmap` (the
  * roaring-serialized set-difference of the version's DV against its
  * predecessor's). `file.partitionValues` already carries the typed
  * hive segments plus the `_change_type`/`_commit_version` constants.
  * The bitmap rides the partition itself — O(its own hidden rows)
  * task bytes, no broadcast. */
private[streaming] case class CdfHiddenPartition(file: PartitionedFile,
    bitmap: Array[Byte]) extends InputPartition

/** CDF partition for one PROTOCOL change-data file (a MERGE under
  * `delta.enableChangeDataFeed`): `_change_type` is a REAL column in
  * the file (a merge's appended batch mixes postimages and inserts, so
  * no per-file constant exists); partition columns ride the file as
  * data too; only `_commit_version` appends as a constant. */
private[streaming] case class CdfCdcPartition(file: PartitionedFile)
    extends InputPartition

class TxLogMicroBatchStream(scan: TxLogScan, dir: String,
    resolveStart: () => Long, policy: ChangePolicy,
    maxVersionsPerTrigger: Option[Long],
    maxFilesPerTrigger: Option[Long], cdf: Boolean,
    allowAdditive: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def log: CommitLog = CommitLog.of(dir)

  /** The starting version is INCLUSIVE (stock Delta): the stream's
    * base offset is the version before it. LAZY — a resumed stream
    * takes its position from the checkpoint and must never pay (or be
    * failed by) re-resolving a startingTimestamp. */
  private lazy val baseV = math.max(0L, resolveStart() - 1L)

  /** MID-STREAM SCHEMA-CHANGE CONTRACT (stock Delta's): the scan's
    * read schema is pinned when this query RUN starts, so a schema
    * change landing in an admitted version can misbind silently — a
    * column-mapped foreign rename leaves the stale logical→physical
    * map translating to a column that no longer exists, a drop+re-add
    * re-types positions. Each admitted version's DECLARED schema
    * (metaData action / Iceberg schema-id change) compares against the
    * schema pinned here, with stock's TWO rules:
    *
    *  - a version at or before the pin point is HISTORY being
    *    replayed: it passes when its declared fields are a SUBSET of
    *    the pinned schema (stock's isReadCompatible — files written
    *    before a column existed null-fill it; a fresh stream over an
    *    evolved table must replay, not refuse forever);
    *  - a version AFTER the pin point is a live change: anything but
    *    an identical (name, dataType) field set stops the stream
    *    loudly naming the version — restart to adopt the new schema
    *    (the checkpoint keeps its offset; the restarted run re-pins,
    *    the change version becomes history, and replay recovers).
    *    ADDITIVE-only changes may opt in to continue via
    *    `.option("allowAdditiveSchemaChange", "true")` — the pinned
    *    projection keeps reading, the added column surfaces after the
    *    next restart.
    *
    * Nullability and metadata drift (config re-emits, mapping
    * bookkeeping) are not schema changes. The pin also cross-checks
    * the SCAN's analysis-time schema: a table that moved between
    * `load()` and this run's start would read batch 0 with a stale
    * binding no per-version check can see — that run refuses up
    * front instead. */
  private lazy val pinned: (Set[(String, org.apache.spark.sql.types.DataType)], Long) = {
    val spark = SparkSession.getActiveSession.getOrElse(
      sys.error("graft-txlog: no active SparkSession"))
    val full = log.schema(spark, dir).fields
      .map(f => (f.name, f.dataType)).toSet
    val pinV = log.currentVersion(dir).getOrElse(0L)
    val scanFields = scan.tableFields
    val consistent =
      if (scan.columnsPruned) scanFields.subsetOf(full)
      else scanFields == full
    require(consistent, s"graft-txlog: the schema of $dir changed " +
      "between the query's analysis and this run's start — the scan " +
      "would read with a stale binding; restart the streaming query " +
      "to re-resolve")
    (full, pinV)
  }

  private def checkSchemaStability(fromV: Long, toV: Long): Unit = {
    if (fromV > toV) return
    val (pinnedF, pinV) = pinned
    (fromV to toV).foreach { v =>
      log.declaredSchemaAt(dir, v).foreach { s =>
        val now = s.fields.map(f => (f.name, f.dataType)).toSet
        val ok =
          if (v <= pinV) now.subsetOf(pinnedF) // replayed history
          else now == pinnedF || (allowAdditive && pinnedF.subsetOf(now))
        if (!ok) {
          def show(fs: Set[(String, org.apache.spark.sql.types.DataType)]) =
            fs.toSeq.sortBy(_._1)
              .map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", ")
          sys.error(s"graft-txlog: schema of $dir changed at version $v — " +
            s"stream pinned [${show(pinnedF)}], version declares " +
            s"[${show(now)}]. Restart the streaming query to adopt the " +
            "new schema (the checkpoint keeps its position)" +
            (if (v > pinV && pinnedF.subsetOf(now))
              "; this change is additive-only — set " +
                ".option(\"allowAdditiveSchemaChange\",\"true\") to " +
                "continue under the pinned projection"
            else ""))
        }
      }
    }
  }

  private def ver(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json().trim.toLong
  }

  override def initialOffset(): OffsetV2 = LongOffset(baseV)

  override def deserializeOffset(json: String): OffsetV2 =
    LongOffset(json.trim.toLong)

  override def latestOffset(): OffsetV2 =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def getDefaultReadLimit: ReadLimit = {
    val limits: Seq[ReadLimit] =
      maxVersionsPerTrigger.map(MaxVersions(_)).toSeq ++
        // clamp, don't narrow: a value above Int.MaxValue would
        // overflow toInt to a NEGATIVE cap and silently degrade
        // admission to one version per batch instead of "unlimited"
        maxFilesPerTrigger.map(n =>
          ReadLimit.maxFiles(math.min(n, Int.MaxValue.toLong).toInt)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** AvailableNow pin: versions committed AFTER prepare wait for the
    * next run — the trigger's exact contract. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(log.currentVersion(dir).getOrElse(baseV))

  override def reportLatestOffset(): OffsetV2 =
    log.currentVersion(dir).map(LongOffset(_)).orNull

  /** Admission control: advance at most `maxVersionsPerTrigger`
    * commits and/or `maxFilesPerTrigger` added files per batch (whole
    * versions only — offsets are commit versions; the first admitted
    * version always fits, so a single over-wide commit cannot stall
    * the stream), clamped to the AvailableNow pin when one is set.
    * Composite limits take the most restrictive target. Null = no new
    * data (the engine's idle signal). */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    // a present startOffset IS the position (checkpointed progress can
    // only be at or past the base) — baseV resolves only on a fresh
    // start, keeping startingTimestamp re-resolution off the resume path
    val base = Option(startOffset).map(ver).getOrElse(baseV)
    val cur = log.currentVersion(dir).getOrElse(return null)
    val capped = availableNowCap.fold(cur)(math.min(cur, _))
    def targetFor(l: ReadLimit): Long = l match {
      case MaxVersions(n) => math.min(capped, base + n)
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        // whole-version admission by cumulative added-file counts —
        // driver metadata from the cached commit parses. Counts of
        // history aged into a checkpoint read as 0: the seeded
        // snapshot delivers as one batch regardless.
        var v = base
        var files = 0L
        var stop = false
        while (!stop && v < capped) {
          val n = scala.util.Try(
            log.commitDelta(dir, v + 1)._1.size).getOrElse(0)
          if (v > base && files + n > mf.maxFiles()) stop = true
          else { v += 1; files += n }
        }
        v
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.map(targetFor).min
      case _ => capped
    }
    val target = targetFor(limit)
    if (target <= base) null else LongOffset(target)
  }

  private def addedOf(v: Long): Seq[String] =
    scan.classifiedAddsOf(v, policy)

  /** The versions in `(start, end]` as file lists. A fresh stream from
    * the table's origin reads the END version's manifest as ONE
    * history batch (live files only — rewritten-away files are not
    * replayed); the CDF read always replays per version, so
    * `_commit_version` stays accurate. */
  override def planInputPartitions(start: OffsetV2, end: OffsetV2): Array[InputPartition] = {
    val fromV = ver(start)
    val toV = ver(end)
    // PIN the schema at the run's FIRST plan, whatever shape it takes —
    // left to the first checkSchemaStability call, a fresh stream's
    // initial-snapshot batch would skip pinning and the pin would land
    // AFTER any change admitted next, comparing new-vs-new and missing it
    pinned
    // non-CDF streams hide DV'd rows natively (read-start DV state, see
    // TxLogScan.dvByAbs); the CDF form replays merge-on-read commits as
    // labeled synthetic partitions (DV-diff synthesis). planCdfVersions
    // runs FIRST: its floor check owns the aged-out-prefix refusal (the
    // CDF-specific message) — the per-version schema lookup would
    // otherwise die mid-parse with append-stream advice
    if (cdf) {
      val parts = scan.planCdfVersions(fromV + 1, toV, policy.skipChangeCommits)
      checkSchemaStability(fromV + 1, toV)
      return parts
    }
    val versioned =
      if (fromV <= 0) Seq((toV, log.liveRelsAt(dir, toV)))
      else {
        // fresh initial-snapshot batches (fromV <= 0) are read with the
        // pinned CURRENT schema by construction and never checked —
        // history folded into one snapshot has no per-version replay
        checkSchemaStability(fromV + 1, toV)
        ((fromV + 1) to toV).map(v => (v, addedOf(v)))
      }
    scan.packPartitions(scan.pruneRels(versioned.filter(_._2.nonEmpty)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()

  override def commit(end: OffsetV2): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"TxLogMicroBatchStream[$dir]"
}
