package graft.sources

import graft.format.{DataFileEntry, DvSidecar, Fio, Manifest, ManifestLog}
import graft.table.{DvCache, GraftTable}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Avg, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.roaringbitmap.longlong.Roaring64Bitmap

import java.util.OptionalLong
import scala.jdk.CollectionConverters._

/**
 * Spark DataSourceV2 connector for graft tables — the "v1" upgrade
 * SURVEY §4 plans over the DataFrame-composed read path (reference
 * `moonlink_datafusion/src/table_provider.rs:74-171`, a DataFusion
 * `TableProvider` with DV row-skipping):
 *
 *   spark.read.format("graft").load(tableRoot)
 *
 * reads the latest manifest snapshot with
 *  - COLUMN PRUNING pushed to the parquet scan (the reader requests the
 *    pruned subset of the file schema — untouched columns never decode),
 *  - FILTER PUSHDOWN as manifest min/max FILE pruning (inexact, like
 *    the reference's `supports_filters_pushdown`: pushed filters prune
 *    whole files, Spark re-evaluates them on the surviving rows),
 *  - DELETION VECTORS applied as positional skips at three levels —
 *    the `RowSelection` analogue (`table_provider.rs:140-167`): fully
 *    deleted FILES are never planned, fully deleted ROW GROUPS are
 *    dropped from the footer handed to the reader (their pages are
 *    never fetched or decoded), and residual per-row deletes become
 *    SELECTION VECTORS over the decoded batch (Photon's filtered-batch
 *    representation): a batch with deletes is served as thin column
 *    views that remap each row id through an `int[]` of live rows, a
 *    batch without deletes passes through untouched, and a fully
 *    deleted batch is never emitted; each file carries only its own
 *    roaring blob,
 *  - VECTORIZED DECODE: Spark's own `VectorizedParquetRecordReader`
 *    does the page decode into `ColumnarBatch`es, and every scan with
 *    at least one column streams batches to Spark
 *    (`supportColumnarReads`), so the scan feeds whole-stage codegen's
 *    ColumnarToRow exactly like the built-in parquet source — with or
 *    without DVs,
 *  - PACKED INPUT PARTITIONS by Spark's own `FilePartition` rule:
 *    files (and byte-range splits of files above
 *    `spark.sql.files.maxPartitionBytes`) are bin-packed, each costing
 *    its bytes plus `spark.sql.files.openCostInBytes`, into partitions
 *    of at most min(maxPartitionBytes, max(openCost, total bytes /
 *    parallelism)) — many small files read in about `parallelism`
 *    tasks, not one task each. Limit-capped and key-grouped (bucketed)
 *    scans keep one partition per file,
 *  - AGGREGATE PUSHDOWN: unfiltered global COUNT(*)/MIN/MAX are
 *    answered straight from the manifest (row counts minus DV
 *    cardinality; per-file min/max stats) — zero parquet bytes read,
 *    the metadata-only fast path that matters most at 100 TB,
 *  - LIMIT PUSHDOWN: plans only enough files to cover the limit and
 *    caps each reader (Spark keeps the final global Limit).
 *
 * Type scope: everything the vectorized parquet reader handles — the
 * full flat relational set plus decimal, array, struct, map. The
 * committed snapshot only — the in-memory tail needs the live table
 * object (S11 union read).
 */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def root(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft source needs a path"))

  private def isCdc(get: String => String): Boolean =
    Option(get("cdc")).exists(_.equalsIgnoreCase("true"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val m = GraftSparkTable.load(root(options))
    if (isCdc(options.get))
      new GraftCdcSinkTable(root(options), m, "graft-cdc").schema()
    else m.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val p = properties.get("path")
    if (isCdc(properties.get))
      new GraftCdcSinkTable(p, GraftSparkTable.load(p), s"graft.`$p`$$cdc")
    else new GraftSparkTable(p)
  }
}

private[graft] object GraftSparkTable {
  /** Translate a DSv2 source filter back to a Column predicate for the
   *  CDC delete path. None = untranslatable (canDeleteWhere refuses,
   *  Spark surfaces "table does not support deletes" — never a wrong
   *  delete). Column names arrive from Spark's own analysis, so
   *  `col(name)` resolution is safe. */
  private[sources] def filterColumn(
      f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isInCollection(vs.toSeq))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case StringStartsWith(c, v) => Some(col(c).startsWith(v))
      case StringEndsWith(c, v) => Some(col(c).endsWith(v))
      case StringContains(c, v) => Some(col(c).contains(v))
      case And(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterColumn(l); rc <- filterColumn(r)) yield lc || rc
      case Not(inner) => filterColumn(inner).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => scala.None
    }
  }

  def load(root: String): Manifest =
    ManifestLog.loadLatest(root).getOrElse(
      throw new IllegalArgumentException(s"no graft manifest under $root"))

  /** SQL INSERT INTO commit: stage the frame as parquet (distributed
   *  executor write, any size), then adopt the part files atomically
   *  at the next LSN via the bulk-load path — the driver touches file
   *  METADATA only, never rows. */
  private[sources] def openTable(root: String, m: Manifest): GraftTable =
    GraftTable.open(org.apache.spark.sql.SparkSession.active, root,
      if (m.keyCols.isEmpty) graft.model.Identity.None
      else graft.model.Identity.Keys(m.keyCols),
      graft.table.TableConfig(walEnabled = false))

  private[sources] def appendSql(root: String,
      data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean = false): Unit = {
    val m = load(root)
    val table = GraftTable.open(data.sparkSession, root,
      graft.model.Identity.None, graft.table.TableConfig(walEnabled = false))
    val staging = s"$root/tmp/insert-${java.util.UUID.randomUUID()}"
    // column order by table schema; analysis already matched the names
    data.select(m.schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").parquet(staging)
    val parts = graft.format.Fio.list(staging)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .map(n => s"$staging/$n")
    // a fresh table's commitLsn is -1; SQL appends start at LSN 1
    val lsn = math.max(table.commitLsn, 0L) + 1
    try {
      if (overwrite) table.overwriteFiles(parts, lsn)
      else table.loadFiles(parts, lsn)
    } finally graft.format.Fio.delete(staging)
  }
}

private[graft] class GraftSparkTable(root: String,
    asOfVersion: Option[Long] = scala.None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private lazy val manifest = asOfVersion match {
    case Some(v) => ManifestLog.load(root, v) // SQL time travel pin
    case scala.None => GraftSparkTable.load(root)
  }
  override def name(): String = s"graft.`$root`"
  /** key columns surface as NON-nullable: a keyed table can never hold
   *  a null key (the upsert fold indexes by it), and Spark's row-level
   *  operations require non-nullable row-id attributes */
  override def schema(): StructType = {
    val keys = manifest.keyCols.toSet
    StructType(manifest.schema.fields.map(f =>
      if (keys(f.name)) f.copy(nullable = false) else f))
  }
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
    // SQL INSERT INTO is the append surface: executors write staged
    // parquet through Spark's normal distributed write, the driver
    // commit adopts the part files into the manifest (the bulk-load
    // path, S7). Keyed tables need the upsert fold — their writes stay
    // on the ingestion API, so they do not advertise writability.
    if (manifest.keyCols.isEmpty) {
      caps.add(TableCapability.V1_BATCH_WRITE)
      // append-only tables also take streaming appends (exactly-once
      // epoch commits; see GraftStreamingWrite). Keyed tables stream
      // through their `t$cdc` sink table (event-schema writes).
      caps.add(TableCapability.STREAMING_WRITE)
      // INSERT OVERWRITE lowers to truncate-then-append, committed as
      // ONE manifest version (see GraftTable.overwriteFiles)
      caps.add(TableCapability.TRUNCATE)
    }
    caps
  }

  /** SQL TRUNCATE TABLE: one metadata-only commit empties the live
   *  file set; history stays time-travelable, vacuum reclaims bytes.
   *  Works for keyed tables too (unlike INSERT, which needs the upsert
   *  fold): dropping ALL rows needs no key resolution. */
  override def truncateTable(): Boolean = {
    require(asOfVersion.isEmpty, "cannot truncate a time-travel pin")
    GraftSparkTable.openTable(root, manifest).truncate()
    true
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, manifest)

  /** SQL `DELETE FROM` (M13's predicate-delete verb on the SQL
   *  surface): Spark hands the WHERE clause as pushed filters; when
   *  every conjunct translates, the delete runs as the metadata-only
   *  CDC path — matched rows become delete events, old versions are
   *  DV-masked via the key index, no data file is rewritten
   *  (O(matched) vs copy-on-write's O(touched FILES) at 100 TB). A
   *  non-translatable predicate or an append-only/time-travel target
   *  refuses here and Spark reports the table non-deletable rather
   *  than silently deleting the wrong rows. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    manifest.keyCols.nonEmpty && asOfVersion.isEmpty &&
      filters.forall(f => GraftSparkTable.filterColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(canDeleteWhere(filters),
      s"$name cannot DELETE WHERE ${filters.mkString(", ")} " +
        "(append-only table, time-travel pin, or untranslatable predicate)")
    val cond = filters.toSeq.flatMap(GraftSparkTable.filterColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val table = GraftTable.open(
      org.apache.spark.sql.SparkSession.active, root,
      graft.model.Identity.Keys(manifest.keyCols),
      graft.table.TableConfig())
    // deleteWhere's batch apply publishes the snapshot itself, so the
    // next SQL statement reads the post-delete manifest
    table.deleteWhere(cond)
  }

  /** SQL UPDATE / MERGE INTO / subquery DELETE: delta-based row-level
   *  operations (merge-on-read) — Spark computes the matched delta and
   *  the table applies it as ONE CDC batch commit (see RowLevelOps).
   *  Simple DELETE WHERE still short-circuits through canDeleteWhere
   *  above without scanning a single row of data. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(manifest.keyCols.nonEmpty,
      s"$name is append-only: SQL DELETE/UPDATE/MERGE need a keyed table")
    require(asOfVersion.isEmpty, "cannot mutate a time-travel pin")
    new GraftRowLevelBuilder(root, manifest, info)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(manifest.keyCols.isEmpty,
      s"$name is a keyed table: INSERT goes through the ingestion API " +
        "(upserts need the key fold); stream CDC events into it via " +
        "the `t$cdc` sink table or option(\"cdc\",\"true\")")
    require(asOfVersion.isEmpty, "cannot write to a time-travel pin")
    val writeSchema = info.schema()
    val queryId = info.queryId()
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // INSERT OVERWRITE: Spark lowers the static overwrite to
      // truncate-then-append on the builder; the table commits both
      // halves as ONE manifest version (overwriteFiles), so no reader
      // ever observes the empty middle state
      private var doTruncate = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        doTruncate = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) =>
              GraftSparkTable.appendSql(root, data,
                overwrite = doTruncate || overwrite)
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new GraftStreamingWrite(root, manifest, queryId, writeSchema)
        }
    }
  }
}

private[graft] class GraftScanBuilder(root: String, manifest: Manifest)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {
  private val tableSchema = manifest.schema
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var exactFilters = false
  private var aggPushed: Option[Aggregation] = scala.None
  private var limit: Long = -1L

  /** Accept the filters usable for min/max file pruning. Pruning is
   *  inexact by design (the reference reports Inexact the same way,
   *  `table_provider.rs:82-88`), so ALL filters normally come back as
   *  residual for Spark to re-evaluate — EXCEPT the FILE-EXACT case:
   *  when every filter is provably all-match-or-none-match on every
   *  live file ([[GraftScan.decide]]), pruning IS the exact filter
   *  (none-match files are dropped, all-match files pass whole), so no
   *  residual remains. That unlocks aggregate pushdown BEHIND the
   *  predicate — `SELECT count(*) FROM t WHERE ts >= X` on a
   *  boundary-aligned X answers from the manifest, the canonical
   *  100-TB telemetry probe. A file where any one filter proves
   *  none-match is pruned regardless of the other filters'
   *  indeterminacy on it; any other indeterminacy falls back to the
   *  inexact contract. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(GraftScan.prunable(tableSchema, _))
    exactFilters = filters.nonEmpty && pushed.length == filters.length &&
      manifest.dataFiles.forall { e =>
        e.rows == e.deletes || // zero live rows: never planned
          pushed.exists(f =>
            GraftScan.decide(tableSchema, e, f).contains(false)) ||
          pushed.forall(f =>
            GraftScan.decide(tableSchema, e, f).contains(true))
      }
    if (exactFilters) Array.empty else filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The snapshot an aggregation may be answered over: every file when
   *  no filter is pushed; under FILE-EXACT filters exactly the
   *  all-match files (by exactness no third kind survives pruning);
   *  None = a filter the manifest cannot decide, aggregates decline.
   *
   *  Plan-time memos (ADVICE r17 / VERDICT r17 #2): the DSv2 driver
   *  walks pushAggregation → supportCompletePushDown → build, each of
   *  which needs the snapshot and the supported/supportedPartial
   *  verdicts — every derivation O(files × groupCols) with parseStat
   *  allocations, so an un-memoized builder pays the wide-manifest
   *  planning cost up to four times per query. `pushed` is final once
   *  pushFilters ran (Spark pushes filters before aggregates), so the
   *  snapshot memo is computed at most once; the verdict pair is keyed
   *  on the Aggregation instance (Spark threads the same object through
   *  the sequence — a different instance just recomputes). */
  private var aggSnapMemo: Option[Option[Manifest]] = scala.None
  private var verdictKey: AnyRef = null
  private var completeOk = false
  private var partialOk = false
  private def aggSnapshot: Option[Manifest] = {
    if (aggSnapMemo.isEmpty)
      aggSnapMemo = Some(
        if (pushed.isEmpty) Some(manifest)
        else if (!exactFilters) scala.None
        else Some(manifest.copy(dataFiles = manifest.dataFiles.filter(e =>
          e.rows > e.deletes && pushed.forall(f =>
            GraftScan.decide(tableSchema, e, f).contains(true))))))
    aggSnapMemo.get
  }
  /** (complete, partial) pushdown verdicts for `agg`, memoized. */
  private def verdicts(agg: Aggregation): (Boolean, Boolean) = {
    if (!(verdictKey eq agg)) {
      completeOk = aggSnapshot.exists(GraftAggScan.supported(_, agg))
      partialOk = !completeOk &&
        aggSnapshot.exists(GraftAggScan.supportedPartial(_, agg))
      verdictKey = agg
    }
    (completeOk, partialOk)
  }

  /** Global COUNT(*)/COUNT(col)/MIN/MAX/SUM/AVG answered from the
   *  manifest — unfiltered, or behind FILE-EXACT pushed filters (the
   *  matching files' accounting is the answer; a mid-file predicate
   *  keeps scanning). MIN/MAX additionally require live bounds — a DV
   *  could mask exactly the extreme row. The one emitted row is the
   *  FINAL answer (complete pushdown), and is equally valid as a
   *  partial buffer if Spark keeps its own agg. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    verdicts(agg)._1
  /** Complete OR partial: when the complete gate declines (e.g. GROUP
   *  BY over files that are not single-valued on the group column),
   *  count-only groupings can still answer from the per-file per-value
   *  accounting as PARTIAL rows — `supportCompletePushDown` stays
   *  false, so Spark plans its own final aggregate over the scan
   *  output (one row per file-cell, folded distributed). Manifest-only
   *  I/O on ANY layout — the layout-independence the single-valued
   *  complete path lacks. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val (c, p) = verdicts(agg)
    val ok = c || p
    if (ok) aggPushed = Some(agg)
    ok
  }

  /** Partial limit push (default isPartiallyPushed): plan only enough
   *  files to cover `l` live rows; Spark applies the exact global cut.
   *  (Sound with FILE-EXACT filters too: every planned file is
   *  all-match, so its live rows all count toward the limit.) */
  override def pushLimit(l: Int): Boolean = { limit = l.toLong; true }

  override def build(): Scan = aggPushed match {
    case Some(a) =>
      val m = aggSnapshot.getOrElse(throw new IllegalStateException(
        "aggregation pushed without a decidable snapshot"))
      new GraftAggScan(m, a, partial = !verdicts(a)._1)
    case scala.None => new GraftScan(root, manifest, required, pushed, limit)
  }
}

private[sources] object GraftScan {
  /** Spark's own `FilePartition` packing ("next fit decreasing"): a
   *  split costs its bytes plus `openCost`, and partitions close at
   *  min(maxPartitionBytes, max(openCost, total cost / parallelism)),
   *  so many small files read in about `parallelism` tasks. */
  def pack(splits: Seq[(GraftInputPartition, Long)], maxPartitionBytes: Long,
      openCost: Long, parallelism: Int): Array[InputPartition] = {
    val total = splits.map(_._2 + openCost).sum
    val maxSplit = math.min(maxPartitionBytes, math.max(openCost, total / parallelism))
    val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
    val cur = scala.collection.mutable.ArrayBuffer[GraftInputPartition]()
    var size = 0L
    def close(): Unit = if (cur.nonEmpty) {
      out += GraftPackedPartition(cur.toArray); cur.clear(); size = 0L
    }
    splits.sortBy(-_._2).foreach { case (p, bytes) =>
      if (size + bytes > maxSplit) close()
      size += bytes + openCost
      cur += p
    }
    close()
    out.toArray
  }

  /** A filter we can evaluate against per-file (min, max) stats. */
  def prunable(schema: StructType, f: Filter): Boolean = {
    def ok(col: String, v: Any): Boolean =
      schema.fields.find(_.name == col).exists(fd =>
        GraftTable.statsComparable(fd.dataType) && coerce(fd.dataType, v).isDefined)
    f match {
      case EqualTo(c, v) => ok(c, v)
      case GreaterThan(c, v) => ok(c, v)
      case GreaterThanOrEqual(c, v) => ok(c, v)
      case LessThan(c, v) => ok(c, v)
      case LessThanOrEqual(c, v) => ok(c, v)
      case In(c, vs) => vs.nonEmpty && vs.forall(v => ok(c, v))
      // null-presence filters prune on the per-file null counts (a
      // missing count — pre-null-accounting writer — never prunes)
      case IsNull(c) => schema.fieldNames.contains(c)
      case IsNotNull(c) => schema.fieldNames.contains(c)
      // composites: Spark splits top-level conjuncts itself, so And
      // arrives mostly inside Or — but a disjunctive range predicate
      // (`ts < a OR ts > b`) prunes per arm, a real win at 100 TB
      case And(l, r) => prunable(schema, l) && prunable(schema, r)
      case Or(l, r) => prunable(schema, l) && prunable(schema, r)
      case _ => false
    }
  }

  /** Normalize a pushed literal to the column's stat type (filter
   *  literals may be narrower/wider than the column — Int vs Long). */
  def coerce(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (LongType, n: Number) => Some(n.longValue())
    case (IntegerType, n: Number) => Some(n.intValue())
    case (ShortType, n: Number) => Some(n.shortValue())
    case (DoubleType, n: Number) => Some(n.doubleValue())
    case (FloatType, n: Number) => Some(n.floatValue())
    case (StringType, s) => Some(s.toString)
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue())
    case (DateType, d: java.sql.Date) => Some(d)
    case (TimestampType, t: java.sql.Timestamp) => Some(t)
    // decimal literals arrive as java/scala BigDecimal (or a narrower
    // numeric when Catalyst folded the cast); compare as BigDecimal —
    // anyOrdering(DecimalType) is compareTo-based, scale-insensitive
    case (_: DecimalType, b: java.math.BigDecimal) => Some(b)
    case (_: DecimalType, b: scala.math.BigDecimal) => Some(b.bigDecimal)
    case (_: DecimalType, n: Number) =>
      Some(new java.math.BigDecimal(n.toString))
    case _ => None
  }

  /** Can `e` possibly contain rows passing `f`? Missing stats => yes. */
  /** The literal's canonical rendering in per-value accounting space
   *  (`DataFileEntry.valueStats` keys), or null when the literal lies
   *  OUTSIDE the column's recordable domain — a >32-code-point string,
   *  or a decimal finer than the column's scale — and therefore cannot
   *  equal ANY value the accounting could have enumerated. */
  private def literalKey(dt: DataType, x: Any): String = dt match {
    case d: DecimalType =>
      try GraftTable.toJavaBD(x).setScale(d.scale).toPlainString
      catch { case _: ArithmeticException => null }
    case _ => GraftTable.renderGroupValue(dt, x)
  }

  def mayMatch(schema: StructType, e: DataFileEntry, f: Filter): Boolean = {
    def bounds(col: String): Option[(Any, Any, Ordering[Any])] = for {
      fd <- schema.fields.find(_.name == col)
      s <- e.stats.get(col)
      if s.length == 2
    } yield (GraftTable.parseStat(fd.dataType, s.head),
      GraftTable.parseStat(fd.dataType, s(1)),
      GraftTable.anyOrdering(fd.dataType))
    def cv(col: String, v: Any): Option[Any] =
      schema.fields.find(_.name == col).flatMap(fd => coerce(fd.dataType, v))
    // dictionary-style pruning from the per-value accounting: a file
    // whose TRUSTED value set does not contain the literal holds no
    // live non-null match, and SQL equality never matches NULL — so
    // the file cannot match at all. Sharper than min/max for sparse
    // sets (`k = 5` prunes a file holding {0, 10}, which the [0,10]
    // bounds keep). Unknown/untrusted accounting keeps the file.
    // hot plan-time path: probe the RAW string-keyed map (trust check
    // inlined from valuesOf) instead of converting every count to Long
    // per (file, filter) call — the refund VERDICT r17 #2 names
    def valueSetMayContain(c: String, v: Any): Boolean =
      (e.deletes != 0L && !e.dvStatsCurrent) || (for {
        fd <- schema.fields.find(_.name == c)
        vm <- e.valueStats.get(c)
        x <- cv(c, v)
      } yield {
        val k = literalKey(fd.dataType, x)
        k != null && vm.contains(k)
      }).getOrElse(true)
    f match {
      case EqualTo(c, v) => ((bounds(c), cv(c, v)) match {
        case (Some((mn, mx, ord)), Some(x)) => ord.lteq(mn, x) && ord.gteq(mx, x)
        case _ => true
      }) && valueSetMayContain(c, v)
      case GreaterThan(c, v) => (bounds(c), cv(c, v)) match {
        case (Some((_, mx, ord)), Some(x)) => ord.gt(mx, x)
        case _ => true
      }
      case GreaterThanOrEqual(c, v) => (bounds(c), cv(c, v)) match {
        case (Some((_, mx, ord)), Some(x)) => ord.gteq(mx, x)
        case _ => true
      }
      case LessThan(c, v) => (bounds(c), cv(c, v)) match {
        case (Some((mn, _, ord)), Some(x)) => ord.lt(mn, x)
        case _ => true
      }
      case LessThanOrEqual(c, v) => (bounds(c), cv(c, v)) match {
        case (Some((mn, _, ord)), Some(x)) => ord.lteq(mn, x)
        case _ => true
      }
      case In(c, vs) => vs.exists { v =>
        (bounds(c) match {
          case Some((mn, mx, ord)) => cv(c, v) match {
            case Some(x) => ord.lteq(mn, x) && ord.gteq(mx, x)
            case scala.None => true
          }
          case _ => true
        }) && valueSetMayContain(c, v)
      }
      // a file with zero recorded nulls cannot satisfy IS NULL; an
      // all-null file cannot satisfy IS NOT NULL. DVs only shrink a
      // file's row set, so "no rows of this kind exist" stays valid
      // under masking; an unrecorded count keeps the file.
      case IsNull(c) => e.nullsOf(c).forall(_ > 0L)
      case IsNotNull(c) => e.nullsOf(c).forall(_ < e.rows)
      // a conjunction needs every arm possible; a disjunction any arm
      case And(l, r) => mayMatch(schema, e, l) && mayMatch(schema, e, r)
      case Or(l, r) => mayMatch(schema, e, l) || mayMatch(schema, e, r)
      case _ => true
    }
  }

  /** Three-valued per-file evaluation of a pushed filter against the
   *  manifest stats: Some(false) = provably NO live row matches (the
   *  pruning decision — [[mayMatch]]'s negation), Some(true) =
   *  provably EVERY live row matches, None = must scan. All-match
   *  proofs are restricted to types whose stored bounds are exact
   *  values under the stat ordering — integrals, decimal, date,
   *  timestamp, boolean. Strings decline (statBounds may truncate the
   *  min and LIFT the max, and JVM vs UTF8String ordering differ
   *  around surrogates); floats decline (NaN ordering). SQL
   *  comparisons are never true on NULL, so every comparison all-match
   *  additionally needs zero LIVE nulls — physical count when the file
   *  is delete-free, masked accounting when it is current, otherwise
   *  indeterminate. Bounds are physical (they cover every live row, so
   *  all-match over physical rows implies all-match over survivors);
   *  only the NULL accounting needs DV awareness. */
  def decide(schema: StructType, e: DataFileEntry, f: Filter): Option[Boolean] = {
    if (!mayMatch(schema, e, f)) return Some(false)
    def fld(c: String) = schema.fields.find(_.name == c)
    def exactType(c: String): Boolean = fld(c).exists(_.dataType match {
      case LongType | IntegerType | ShortType | BooleanType | DateType |
           TimestampType | _: DecimalType => true
      // strings: decidable ONLY on a file whose writer marked BOTH
      // bounds as exact data values (`exactBounds` — neither end
      // truncated/lifted by statBounds). anyOrdering(StringType)
      // compares as UTF-8 bytes, matching what Spark's min/max over
      // UTF8String computed when the bounds were written, so the
      // all-match proof holds under the same order the scan would use.
      // Unmarked files (pre-marker manifests, long-text columns) keep
      // declining — their stored min may sit below the true min and
      // their max may be a synthetic lift.
      case StringType => e.exactBounds.contains(c)
      case _ => false
    })
    // live null count of `c`: zero physical nulls means zero live
    // nulls no matter the masking (live ⊆ physical) — the common case
    // that keeps count(*)-behind-filter exact right after a delete;
    // otherwise physical when delete-free, physical minus masked when
    // the masked accounting is CURRENT, else unknown
    def liveNulls(c: String): Option[Long] = e.nullsOf(c).flatMap { n =>
      if (n == 0L) Some(0L)
      else if (e.deletes == 0L) Some(n)
      else if (e.dvStatsCurrent) e.dvNullsOf(c).map(n - _)
      else scala.None
    }
    def noNulls(c: String): Boolean = liveNulls(c).contains(0L)
    def liveNonNulls(c: String): Option[Long] = e.nullsOf(c).flatMap { n =>
      val phys = e.rows - n
      if (phys == 0L) Some(0L) // no non-null exists, masked or not
      else if (e.deletes == 0L) Some(phys)
      else if (e.dvStatsCurrent)
        e.dvNullsOf(c).map(dn => phys - (e.deletes - dn))
      else scala.None
    }
    def bounds(c: String): Option[(Any, Any, Ordering[Any])] = for {
      fd <- fld(c)
      s <- e.stats.get(c)
      if s.length == 2
    } yield (GraftTable.parseStat(fd.dataType, s.head),
      GraftTable.parseStat(fd.dataType, s(1)),
      GraftTable.anyOrdering(fd.dataType))
    def cv(c: String, v: Any): Option[Any] =
      fld(c).flatMap(fd => coerce(fd.dataType, v))
    /** Some(true) when the bounds prove every non-null value passes
     *  and the file holds no live nulls; None otherwise. */
    def cmp(c: String, v: Any)(
        p: (Any, Any, Any, Ordering[Any]) => Boolean): Option[Boolean] =
      if (!exactType(c) || !noNulls(c)) scala.None
      else (bounds(c), cv(c, v)) match {
        case (Some((mn, mx, ord)), Some(x)) if p(mn, mx, x, ord) =>
          Some(true)
        case _ => scala.None
      }
    f match {
      case EqualTo(c, v) => cmp(c, v)((mn, mx, x, ord) =>
        ord.equiv(mn, x) && ord.equiv(mx, x))
      case GreaterThan(c, v) => cmp(c, v)((mn, _, x, ord) => ord.gt(mn, x))
      case GreaterThanOrEqual(c, v) =>
        cmp(c, v)((mn, _, x, ord) => ord.gteq(mn, x))
      case LessThan(c, v) => cmp(c, v)((_, mx, x, ord) => ord.lt(mx, x))
      case LessThanOrEqual(c, v) =>
        cmp(c, v)((_, mx, x, ord) => ord.lteq(mx, x))
      case In(c, vs) =>
        // all-match in the single-valued file (min == max ∈ vs), or —
        // from the per-value accounting — in ANY file whose trusted
        // live value set is a SUBSET of the list (`k IN (1,2,3)` is
        // file-exact on a file holding {1,2}; bounds alone can never
        // prove that for a multi-valued file)
        if (noNulls(c) && fld(c).exists(fd => e.valuesOf(c).exists { vm =>
            val lits = vs.flatMap(v => cv(c, v))
              .map(x => literalKey(fd.dataType, x)).filter(_ != null).toSet
            vm.keySet.subsetOf(lits)
          })) Some(true)
        else if (!exactType(c) || !noNulls(c)) scala.None
        else bounds(c) match {
          case Some((mn, mx, ord)) if ord.equiv(mn, mx) &&
              vs.exists(v => cv(c, v).exists(x => ord.equiv(x, mn))) =>
            Some(true)
          case _ => scala.None
        }
      case IsNull(c) =>
        if (liveNonNulls(c).contains(0L)) Some(true) else scala.None
      case IsNotNull(c) =>
        if (noNulls(c)) Some(true) else scala.None
      // three-valued composites (NULL-safe: an arm's Some(true) already
      // embeds its zero-live-nulls proof, and a ∨ b is true wherever a
      // is true regardless of b's NULLness)
      case And(l, r) =>
        (decide(schema, e, l), decide(schema, e, r)) match {
          case (Some(true), Some(true)) => Some(true)
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case _ => scala.None
        }
      case Or(l, r) =>
        (decide(schema, e, l), decide(schema, e, r)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => scala.None
        }
      case _ => scala.None
    }
  }
}

private[sources] class GraftScan(root: String, manifest: Manifest,
    required: StructType, pushed: Array[Filter], limit: Long = -1L)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // ---- storage-partitioned joins --------------------------------------
  // After a bucketed compaction (optimize(bucketBy = n)) every live
  // file holds exactly one value of pmod(xxhash64(keyCols), n), so the
  // scan's partitions are KEY-GROUPED by that bucket function. Reporting
  // it lets Spark plan joins/aggregations on the key columns with ZERO
  // shuffles when both sides share the layout (the DSv2 storage-
  // partitioned join; requires spark.sql.sources.v2.bucketing.enabled
  // and the relation to resolve through the graft catalog, whose
  // FunctionCatalog serves the matching `bucket` function). Gated
  // per-scan: every PLANNED file must carry a valid bucket id and the
  // key columns must survive column pruning — any miss degrades to
  // UnknownPartitioning, never to a wrong answer.
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    // cheap gates FIRST: the common unbucketed scan must not pay the
    // manifest-pruning pass (survivors) just to return Unknown —
    // planning stays metadata-cheap at 100-TB manifest sizes
    if (manifest.bucketN <= 0 || manifest.keyCols.isEmpty ||
        !manifest.keyCols.forall(required.fieldNames.contains))
      return new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(0)
    val sv = survivors
    if (sv.nonEmpty && sv.forall(_.bucket >= 0L))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
          manifest.bucketN.toInt, manifest.keyCols: _*)),
        sv.map(_.bucket).distinct.size)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftScan(files=${manifest.dataFiles.size}, " +
      s"pushed=[${pushed.mkString(", ")}], cols=${required.fieldNames.mkString(",")}" +
      (if (limit >= 0L) s", limit=$limit" else "") + ")"

  // ---- runtime (dynamic) file pruning -------------------------------
  // Spark's DPP/runtime-filter machinery calls `filter` at EXECUTION
  // time with the join keys it actually observed (e.g. the broadcast
  // side's values as an IN predicate); files whose stats exclude every
  // key are dropped before any parquet byte is read — dynamic file
  // pruning, the DSv2 sibling of static manifest pruning. Predicates
  // we cannot evaluate are ignored (pruning is best-effort; Spark
  // re-applies the real join).
  // only columns in the scan OUTPUT: Spark resolves every offered
  // attribute against the (column-pruned) relation and faults on any
  // it cannot find
  override def filterAttributes(): Array[NamedReference] =
    required.fields
      .filter(f => GraftTable.statsComparable(f.dataType))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions
        .column(f.name))

  @volatile private var runtimeIn: Seq[(String, Seq[Any])] = Nil

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.Literal
    runtimeIn = runtimeIn ++ predicates.toSeq.flatMap { p =>
      val kids = p.children()
      val colName = kids.headOption.collect {
        case r: NamedReference if r.fieldNames().length == 1 =>
          r.fieldNames()(0)
      }
      val dt = colName.flatMap(c =>
        manifest.schema.fields.find(_.name == c).map(_.dataType))
      val lits = kids.drop(1).toSeq.map {
        case l: Literal[_] =>
          dt.flatMap(t => GraftScan.coerce(t,
            CatalystTypeConverters.convertToScala(l.value(), l.dataType())))
        case _ => scala.None
      }
      (p.name(), colName, dt) match {
        case ("IN" | "=", Some(c), Some(_)) if lits.nonEmpty && lits.forall(_.isDefined) =>
          Seq(c -> lits.map(_.get))
        case _ => Nil
      }
    }
  }

  private def passesRuntime(e: DataFileEntry): Boolean =
    runtimeIn.forall { case (c, values) =>
      (manifest.schema.fields.find(_.name == c), e.stats.get(c)) match {
        case (Some(fd), Some(Seq(mn, mx))) =>
          val ord = GraftTable.anyOrdering(fd.dataType)
          val (lo, hi) = (GraftTable.parseStat(fd.dataType, mn),
            GraftTable.parseStat(fd.dataType, mx))
          values.exists(v => ord.lteq(lo, v) && ord.gteq(hi, v))
        case _ => true // no stats -> cannot prune
      }
    }

  // ---- index-backed point lookup ------------------------------------
  // When the pushed filters pin EVERY key column with an equality, the
  // persisted key index answers "which data files can hold this key"
  // directly — the reference's bucketed hash-map point probe
  // (`persisted_bucket_hash_map.rs:276`) as file pruning: merged index
  // files carry their xxhash64(key) coverage in the manifest, so the
  // probe reads ONE index bucket file at any table size, then the scan
  // plans only the data files the index names (usually one). Purely an
  // optimization: any failure falls back to the stats path.
  private lazy val indexLookupFiles: Option[Set[String]] = try {
    if (manifest.keyCols.isEmpty || manifest.indexFiles.isEmpty) scala.None
    else {
      import org.apache.spark.sql.functions.{col => fcol, lit => flit, xxhash64}
      import org.apache.spark.sql.sources.{EqualTo, In}
      // key tuples pinned by the pushed filters: every key column with
      // an equality (composite keys), or an IN list on the single key
      // column (batch point lookups) — bounded to keep the probe tiny
      val keyFields = manifest.keyCols.map(c =>
        manifest.schema.fields(manifest.schema.fieldIndex(c)))
      val tuples: Option[Seq[Seq[Any]]] =
        if (manifest.keyCols.length == 1) {
          val k = manifest.keyCols.head
          // bound: 64k keys ≈ one bounded driver list + one hash set —
          // covers the reference's batch-probe stress shape (10k-key
          // IN against a merged index, microbench_index_stress.rs);
          // beyond it the stats path still prunes
          pushed.collectFirst {
            case In(c, vs) if c == k && vs.nonEmpty && vs.length <= 65536 &&
              vs.forall(_ != null) => vs.toSeq.map(Seq(_))
            case EqualTo(c, v) if c == k && v != null => Seq(Seq(v))
          }
        } else {
          val eqs = pushed.collect { case EqualTo(c, v) if v != null => c -> v }.toMap
          if (manifest.keyCols.forall(eqs.contains))
            Some(Seq(manifest.keyCols.map(eqs)))
          else scala.None
        }
      tuples.map { ts =>
        val s = org.apache.spark.sql.SparkSession.active
        val rows = ts.map(org.apache.spark.sql.Row.fromSeq(_))
        // hash parity by construction: the SAME Spark expression that
        // bucketed the merged index computes the probe hashes
        val hashes = s.createDataFrame(rows.asJava, StructType(keyFields))
          .select(xxhash64(keyFields.map(f => fcol(f.name)): _*))
          .collect().map(_.getLong(0)).toSet
        val buckets = manifest.indexFiles.filter(e =>
          hashes.exists(e.coversHash))
        if (buckets.isEmpty) Set.empty[String]
        else {
          val idx = s.read.parquet(
            buckets.map(e => s"$root/index/${e.path}"): _*)
          val cond =
            if (manifest.keyCols.length == 1)
              fcol(manifest.keyCols.head).isin(ts.map(_.head): _*)
            else keyFields.zip(ts.head).map { case (f, v) =>
              fcol(f.name) === flit(v) }.reduce(_ && _)
          idx.where(cond)
            .select(fcol("_file"))
            .distinct().collect().map(_.getString(0)).toSet
        }
      }
    }
  } catch { case _: Throwable => scala.None }

  // fully-deleted files (rows == deletes) are the FILE-level DV skip:
  // zero live rows, so they are never planned at all. (defs, not lazy
  // vals: runtime filters arriving via `filter` must re-prune.)
  private def statSurvivors: Seq[DataFileEntry] =
    manifest.dataFiles.filter(e => e.rows > e.deletes &&
      pushed.forall(f => GraftScan.mayMatch(manifest.schema, e, f)) &&
      passesRuntime(e) &&
      indexLookupFiles.forall(_.contains(e.path)))

  // With a pushed limit (only offered with no residual filters), stop
  // planning files once their live rows cover it.
  private def survivors: Seq[DataFileEntry] =
    if (limit < 0L) statSurvivors
    else {
      var acc = 0L
      statSurvivors.takeWhile { e =>
        val take = acc < limit
        acc += e.rows - e.deletes
        take
      }
    }

  // per-data-file DV blobs from the GDV1 sidecars; each partition
  // ships only its own file's bitmap
  private lazy val dvBlobs: Map[String, Array[Byte]] = {
    val merged = scala.collection.mutable.HashMap[String, Roaring64Bitmap]()
    manifest.dvFiles.foreach { f =>
      DvSidecar.read(s"$root/dv/$f").foreach { case (file, bm) =>
        merged.get(file) match {
          case Some(acc) => acc.or(bm)
          case scala.None => merged(file) = bm
        }
      }
    }
    merged.map { case (f, bm) => f -> DvCache.serialize(bm) }.toMap
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val sqlConf = org.apache.spark.sql.internal.SQLConf.get
    val maxPartitionBytes = sqlConf.filesMaxPartitionBytes
    // (partition, bytes) per file or byte range of a file
    val splits = survivors.flatMap { e =>
      val path = s"$root/data/${e.path}"
      val dv = dvBlobs.getOrElse(e.path, null)
      // Intra-file parallelism without any planning-time footer IO
      // (critical at 100 TB: planning must stay metadata-only): files
      // larger than maxPartitionBytes split into byte ranges; the
      // reader keeps the row groups whose MIDPOINT falls in its range
      // (parquet-mr's own range rule), so ranges partition the groups
      // exactly. Limit-capped scans stay one partition per file — the
      // cap accounting is per file.
      if (limit >= 0L || e.bytes <= maxPartitionBytes)
        Seq(GraftInputPartition(path, e.rows, dv, limit,
          bucket = e.bucket) -> e.bytes)
      else {
        val nSplits = (e.bytes + maxPartitionBytes - 1) / maxPartitionBytes
        val span = (e.bytes + nSplits - 1) / nSplits
        (0L until nSplits).map { i =>
          val last = i == nSplits - 1
          GraftInputPartition(path, e.rows, dv, limit,
            splitStart = i * span,
            splitEnd = if (last) Long.MaxValue else (i + 1) * span,
            bucket = e.bucket) -> (if (last) e.bytes - i * span else span)
        }
      }
    }
    // key-grouped scans hand Spark one partition per file so each
    // carries its bucket key (HasPartitionKey, storage-partitioned
    // joins); limit caps count per file
    if (limit >= 0L || outputPartitioning().isInstanceOf[
        org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
      splits.map(_._1).toArray
    else GraftScan.pack(splits, maxPartitionBytes, sqlConf.filesOpenCostInBytes,
      sqlConf.filesMinPartitionNum.getOrElse(
        org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required.json,
      manifest.schema.fields
        .map(f => f.name -> graft.model.SchemaDsl.physicalName(f)).toMap)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(survivors.map(_.bytes).sum)
    override def numRows(): OptionalLong =
      OptionalLong.of(survivors.map(e => e.rows - e.deletes).sum)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(root, manifest, required, pushed)
}

/**
 * The table as a Structured Streaming SOURCE (the Delta
 * `spark.readStream` role, and the streaming face of the reference's
 * union-read surface): PUBLISHED manifest versions are the offsets,
 * and each micro-batch reads exactly the data files that versions
 * (start, end] added — committed, durable parquet; never the
 * in-memory tail, and never rows whose flush has not been published
 * (flush and snapshot-publish are separate by design; the batch
 * ingest paths publish after every flush).
 *
 * Contract: append-only tables (no key columns). A keyed table's
 * history contains updates/deletes, which an append stream cannot
 * represent — `changesBetween` serves that shape. Commits inside the
 * streamed range must be additive: a removed file or a grown DV set
 * (compaction, predicate delete) fails the batch loudly rather than
 * re-emitting or silently dropping rows.
 *
 * Scale shape: offsets are O(1) manifest-version reads; planning a
 * batch is O(new files) driver metadata; the data path is the batch
 * scan's vectorized reader, one partition per new file, with the same
 * column pruning and stat pruning applied. A 100-TB table streams at
 * the cost of its NEW files only — the incremental invariant.
 */
private[graft] class GraftMicroBatchStream(root: String,
    manifest: Manifest, required: StructType, pushed: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  require(manifest.keyCols.isEmpty,
    "streaming read requires an append-only table (no key columns); " +
      "keyed tables serve change feeds via changesBetween")

  private case class VOffset(version: Long) extends Offset {
    override def json(): String = s"""{"version":$version}"""
  }

  // stream from the beginning of history: the first batch serves the
  // whole current content (Delta's default starting position)
  override def initialOffset(): Offset = VOffset(0L)

  override def latestOffset(): Offset =
    VOffset(ManifestLog.loadLatest(root)
      .getOrElse(throw new IllegalStateException(s"no table at $root"))
      .version)

  override def deserializeOffset(json: String): Offset =
    VOffset("""-?\d+""".r.findFirstIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
      .toLong)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val (vs, ve) = (start.asInstanceOf[VOffset].version,
      end.asInstanceOf[VOffset].version)
    if (sys.env.contains("GRAFT_STREAM_DEBUG"))
      System.err.println(s"[graft-stream] plan($vs, $ve)")
    if (vs == ve) return Array.empty
    val mS = ManifestLog.load(root, vs)
    val mE = ManifestLog.load(root, ve)
    val startPaths = mS.dataFiles.map(_.path).toSet
    require(startPaths.subsetOf(mE.dataFiles.map(_.path).toSet) &&
      mE.dvFiles.size >= mS.dvFiles.size && mS.dvFiles.forall(mE.dvFiles.contains),
      s"non-append commit between versions $vs and $ve " +
        "(compaction or delete); streaming reads require additive commits")
    mE.dataFiles
      .filter(e => !startPaths.contains(e.path))
      .filter(e => pushed.forall(f => GraftScan.mayMatch(mE.schema, e, f)))
      .map(e => GraftInputPartition(s"$root/data/${e.path}", e.rows,
        dvBlob = null): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(required.json,
      manifest.schema.fields
        .map(f => f.name -> graft.model.SchemaDsl.physicalName(f)).toMap)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/**
 * Metadata-only aggregate scan: the whole result is computed on the
 * driver from the manifest — COUNT(*) as Σ(rows − dvDeletes) per file,
 * MIN/MAX by folding the per-file stats — and shipped to one trivial
 * partition. At 100 TB this answers `SELECT count(*) FROM t` (the
 * canonical freshness probe, reference `table_provider.rs`'s
 * statistics path) without touching a single parquet byte.
 */
private[sources] class GraftAggScan(manifest: Manifest, agg: Aggregation,
    partial: Boolean = false)
    extends Scan with Batch {
  private val funcs: Seq[AggregateFunc] = agg.aggregateExpressions.toSeq
  private val groupBy: Seq[String] =
    GraftAggScan.groupColsOf(agg).getOrElse(Nil)

  override def readSchema(): StructType =
    GraftAggScan.schemaFor(manifest.schema, groupBy, funcs)
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAggScan(${if (partial) "partial, " else ""}" +
      s"${funcs.mkString(", ")}" +
      (if (groupBy.isEmpty) "" else groupBy.mkString(" GROUP BY ", ",", "")) +
      ") [manifest-only, 0 files read]"

  override def planInputPartitions(): Array[InputPartition] =
    if (partial) {
      // one row per file-cell; Spark's final aggregate does the merge.
      // Sharded so a wide manifest's merge runs DISTRIBUTED instead of
      // funneling every per-file row through one task.
      val rows = GraftAggScan.partialRows(manifest, groupBy, funcs)
      if (rows.isEmpty) Array(GraftAggPartition(Nil))
      else rows.grouped(4096).map(GraftAggPartition(_)).toArray
    } else Array(GraftAggPartition(
      if (groupBy.isEmpty) Seq(GraftAggScan.values(manifest, funcs))
      else GraftAggScan.groupedValues(manifest, groupBy, funcs)))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory
}

private[sources] object GraftAggScan {
  private def named(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => scala.None
    }

  private def colOf(f: AggregateFunc): Option[String] = f match {
    case m: Min => named(m.column)
    case m: Max => named(m.column)
    case c: Count => named(c.column)
    case s: Sum => named(s.column)
    case a: Avg => named(a.column)
    case _ => scala.None
  }

  /** AVG over an integral column: Spark's `Average` accumulates its
   *  running sum in DoubleType — order-dependent rounding, and it never
   *  throws, under ANSI too (doubles don't overflow). A pushed
   *  exact-long-sum / count answer is therefore bit-identical to the
   *  scan ONLY when every double accumulation order is exact, which
   *  holds iff all partial sums stay within ±2^53 (integers there are
   *  exactly representable and their sums round-trip exactly). The
   *  per-file bounds prove it: Σ(non-null rows × max(|min|,|max|)) ≤
   *  2^53 bounds every prefix sum in every order. The gate applies in
   *  BOTH ANSI modes — the double accumulator is the same either way.
   *  Beyond the proof, decline: the scan can answer differently (e.g.
   *  avg over {2^62, 1, -2^62} scans to 0.0 by catastrophic double
   *  cancellation while the exact quotient is 0.333…), and the scan
   *  provider must never answer differently from the scan
   *  (reference `table_provider.rs:174-179`'s Inexact discipline).
   *
   *  Declining the Avg ALONE is not enough: Spark's
   *  V2ScanRelationPushDown rewrites an un-pushable AVG(c) into the
   *  Sum(c)/Count(c) pair, pushes THAT, and divides the exact pushed
   *  sum — reintroducing the identical divergence one level up. So
   *  `supported` also gates any aggregation containing the
   *  avg-reconstructable pair (non-distinct Sum(c) AND Count(c) of the
   *  same column) on the same 2^53 proof; see `avgRewriteSafe`. */
  private val avgExactCap = BigInt(1L) << 53
  private def exactInDoubles(manifest: Manifest, c: String): Boolean =
    manifest.schema.fields.find(_.name == c).exists(fd =>
      GraftTable.integralLong(fd.dataType).isDefined &&
        boundsWithin(manifest, c, fd, avgExactCap))
  private def avgPushable(manifest: Manifest, a: Avg): Boolean =
    // exactInDoubles (cap 2^53) subsumes the ANSI SUM proof
    // (cap Long.MaxValue), so no second bounds pass is needed
    !a.isDistinct && colOf(a).exists(c =>
      sumStructural(manifest, c) && exactInDoubles(manifest, c))

  /** True when no average can be reconstructed from the pushed values
   *  with different numerics than the un-pushed plan. Spark rewrites a
   *  declined AVG(c) into Sum(c)+Count(c) and evaluates
   *  exact_sum / count above the scan, while the un-pushed Average
   *  accumulates in doubles — so the pair pushes only under the 2^53
   *  proof. (A user-written `SELECT sum(c), count(c)` pays the same
   *  conservative gate — indistinguishable from the rewrite, and the
   *  full scan keeps it correct.) */
  private def avgRewriteSafe(manifest: Manifest, funcs: Seq[AggregateFunc]): Boolean = {
    val sumCols = funcs.collect {
      case s: Sum if !s.isDistinct => colOf(s) }.flatten.toSet
    val cntCols = funcs.collect {
      case c: Count if !c.isDistinct => colOf(c) }.flatten.toSet
    // DECIMAL columns are pair-safe unconditionally: both the un-pushed
    // Average and the rewrite's Divide accumulate/divide in exact
    // decimal arithmetic, so a pushed Sum that equals the scan's sum
    // (the only kind sumPushable admits — and if it doesn't push, the
    // whole aggregation declines there) reconstructs the identical
    // average. Only the integral case needs the 2^53 double proof.
    (sumCols & cntCols).forall(c => exactInDoubles(manifest, c) ||
      manifest.schema.fields.find(_.name == c)
        .exists(_.dataType.isInstanceOf[DecimalType]))
  }

  /** Per-file masked-row accounting is usable for `col`: either the
   *  file carries no DVs, or its accounting is CURRENT (dvAccounted ==
   *  deletes — every delete's values were folded in by refreshDvStats)
   *  and records the column. Between a delete and the next refresh the
   *  entry is non-current and the aggregate declines to the scan. */
  private def dvAccounted(e: graft.format.DataFileEntry, col: String): Boolean =
    e.deletes == 0L || (e.dvStatsCurrent &&
      e.dvNullStats.contains(col) && e.dvSumStats.contains(col))
  private def dvNullsCounted(e: graft.format.DataFileEntry, col: String): Boolean =
    e.deletes == 0L || e.dvNullsOf(col).isDefined
  /** Live non-null rows of `col` in the file: physical non-nulls minus
   *  masked non-nulls (deletes minus masked nulls). */
  private def liveNonNull(e: graft.format.DataFileEntry, col: String): Long =
    (e.rows - e.nullsOf(col).get) -
      (e.deletes - (if (e.deletes == 0L) 0L else e.dvNullsOf(col).get))
  /** Live wrapped sum of `col` in the file: physical wrapped sum minus
   *  the masked wrapped sum (mod-2^64 arithmetic is a group, so the
   *  difference is exactly the wrapped sum of the surviving rows). */
  private def liveSum(e: graft.format.DataFileEntry, col: String): Long =
    e.sumOf(col).get -
      (if (e.deletes == 0L) 0L else e.dvSumOf(col).get)
  /** Live exact decimal sum of `col` in the file: exact physical sum
   *  minus the exact masked sum (fixed-scale decimal addition is a
   *  group too, so the difference is exactly the survivors' sum). */
  private def liveDecSum(e: graft.format.DataFileEntry,
      col: String): java.math.BigDecimal =
    e.decSumOf(col).get.subtract(
      if (e.deletes == 0L) java.math.BigDecimal.ZERO
      else e.dvDecSumOf(col).get)

  /** SUM pushes only for integral columns (exact wrapping partials).
   *  Under non-ANSI arithmetic the wrapped stats total IS Spark's
   *  answer. Under ANSI (the Spark 4 default) SUM throws on overflow,
   *  and whether a scan overflows can depend on accumulation order —
   *  so ANSI pushes only when the per-file bounds PROVE no ordering
   *  can overflow (Σ (non-null rows × max|bound|) fits in a Long);
   *  then the exact total is order-independent and equals the scan's.
   *  An unprovable case declines, so the scan's ANSI error is never
   *  masked by a silently wrapped metadata answer. DVs are fine when
   *  the masked accounting is current (see dvAccounted): live sum =
   *  wrapped total minus wrapped masked sum, and the all-rows bounds
   *  proof covers every SUBSET accumulation order too, so the ANSI
   *  argument carries over to the surviving rows unchanged. */
  /** Structural half of the SUM gate: integral column with exact
   *  per-file sums, null counts and current masked accounting on every
   *  file. Shared by SUM (which adds the ANSI proof) and AVG (which
   *  adds the stricter 2^53 exactness proof instead). */
  private def sumStructural(manifest: Manifest, c: String): Boolean =
    manifest.schema.fields.find(_.name == c).exists(fd =>
      GraftTable.integralLong(fd.dataType).isDefined) &&
      manifest.dataFiles.forall(e =>
        e.sumOf(c).isDefined && e.nullsOf(c).isDefined &&
          dvAccounted(e, c))

  /** DECIMAL SUM gate. Fixed-scale decimal addition is exact and
   *  order-independent, and Spark's Sum over decimals defers its
   *  overflow check to evaluation (`DecimalAddNoOverflowCheck`) — BUT
   *  each partial still round-trips through an UnsafeRow buffer of
   *  DecimalType.bounded(p+10, s), so an INTERMEDIATE partial that
   *  outgrows 38 digits nulls that partition's buffer: whether the
   *  scan answers (or, ANSI, throws) can depend on accumulation order
   *  exactly like the integral case. Push only when the per-file
   *  bounds PROVE no ordering can leave the buffer type — then the
   *  exact stats total IS the scan's answer in both ANSI modes.
   *  Structurally every file needs an exact decimal sum, a null count
   *  and current masked accounting (the per-file sums exist only for
   *  p ≤ 28, `GraftTable.decimalSummable`). */
  private def decSumPushable(manifest: Manifest, c: String,
      d: DecimalType): Boolean =
    GraftTable.decimalSummable(d).isDefined &&
      manifest.dataFiles.forall(e =>
        e.sumStats.contains(c) && e.nullsOf(c).isDefined &&
          dvAccounted(e, c)) &&
      decBoundsWithin(manifest, c, d)

  /** Proves NO accumulation order over the live values can outgrow
   *  Spark's decimal SUM buffer (DecimalType.bounded(p+10, s)): Σ
   *  per-file (non-null rows × max(|min|, |max|)) ≤ the buffer type's
   *  max value bounds every prefix sum of every permutation, masked
   *  subsets included. */
  private def decBoundsWithin(manifest: Manifest, c: String,
      d: DecimalType): Boolean = {
    val bufPrec = math.min(DecimalType.MAX_PRECISION, d.precision + 10)
    val cap = new java.math.BigDecimal(
      BigInt(10).pow(bufPrec).bigInteger
        .subtract(java.math.BigInteger.ONE), d.scale)
    boundsProof(manifest, c, cap) { b =>
      new java.math.BigDecimal(b.head).abs
        .max(new java.math.BigDecimal(b(1)).abs)
    }
  }

  /** Shared per-file skeleton of both overflow proofs (integral and
   *  decimal — they differ only in how a stored bound parses to its
   *  absolute magnitude, and BigDecimal arithmetic is exact for both):
   *  a fully-deleted file with current accounting — or one with zero
   *  non-null rows — contributes zero; otherwise the contribution is
   *  non-null rows × maxAbs(bounds), unprovable (None) when bounds or
   *  null counts are missing, which declines without throwing. */
  private def boundsProof(manifest: Manifest, c: String,
      cap: java.math.BigDecimal)(
      maxAbs: Seq[String] => java.math.BigDecimal): Boolean = {
    val caps = manifest.dataFiles.map { e =>
      // a fully-deleted file with CURRENT accounting contributes zero
      // live rows — its (legitimately absent) refreshed bounds must not
      // disarm the proof for the whole table
      if (e.rows == e.deletes && e.dvStatsCurrent)
        Some(java.math.BigDecimal.ZERO)
      else e.nullsOf(c).flatMap { nulls =>
        val nonNull = e.rows - nulls
        if (nonNull == 0L) Some(java.math.BigDecimal.ZERO)
        else e.stats.get(c).filter(_.length == 2).map(b =>
          maxAbs(b).multiply(java.math.BigDecimal.valueOf(nonNull)))
        // a bound-less non-empty file makes overflow unprovable
      }
    }
    caps.forall(_.isDefined) &&
      caps.flatten.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
        .compareTo(cap) <= 0
  }

  private def sumPushable(manifest: Manifest, s: Sum): Boolean =
    !s.isDistinct && colOf(s).exists { c =>
      manifest.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(d: DecimalType) => decSumPushable(manifest, c, d)
        case _ =>
          sumStructural(manifest, c) && {
            // SQLConf carries the real default (ANSI is ON in Spark 4);
            // a caller-supplied fallback on RuntimeConfig.get would mask
            // it
            !org.apache.spark.sql.internal.SQLConf.get.ansiEnabled ||
              manifest.schema.fields.find(_.name == c).exists(fd =>
                boundsWithin(manifest, c, fd, BigInt(Long.MaxValue)))
          }
      }
    }

  /** Proves NO accumulation order over the snapshot's values can exceed
   *  `cap` in magnitude: Σ per-file (non-null rows × max(|min|,|max|))
   *  ≤ cap bounds every prefix sum of every permutation. A non-empty
   *  file without recorded min/max bounds — or without a recorded null
   *  count (avgRewriteSafe can reach here before any per-function gate
   *  has checked presence) — makes the claim unprovable, never an
   *  exception: planning must decline, not throw. */
  private def boundsWithin(manifest: Manifest, c: String,
      fd: StructField, cap: BigInt): Boolean =
    boundsProof(manifest, c, new java.math.BigDecimal(cap.bigInteger)) { b =>
      val mn = GraftTable.parseStat(fd.dataType, b.head)
        .asInstanceOf[Number].longValue
      val mx = GraftTable.parseStat(fd.dataType, b(1))
        .asInstanceOf[Number].longValue
      java.math.BigDecimal.valueOf(mn).abs
        .max(java.math.BigDecimal.valueOf(mx).abs)
    }

  /** Global (no GROUP BY) COUNT(*)/COUNT(col)/MIN/MAX/SUM/AVG only.
   *  MIN/MAX need per-file (min,max) bounds that describe the LIVE
   *  rows: either the file is delete-free, or refreshDvStats rewrote
   *  its bounds from the surviving rows in the same entry update that
   *  made the masked accounting current (a DV could mask exactly the
   *  extreme row, so physical bounds alone never push past a delete).
   *  COUNT(col) needs a recorded null count on every file, and — for
   *  files carrying DVs — CURRENT masked-row accounting (live non-null
   *  = physical non-null minus masked non-null; a pre-accounting file
   *  is unknown, never zero). */
  /** GROUP BY columns when every grouping expression is a plain
   *  column; None otherwise (computed groupings never push). */
  def groupColsOf(agg: Aggregation): Option[Seq[String]] = {
    val gs = agg.groupByExpressions.toSeq.map(named)
    if (gs.forall(_.isDefined)) Some(gs.flatten) else scala.None
  }

  /** GROUP BY `c` is answerable from per-file accounting iff every
   *  file with live rows is SINGLE-VALUED on `c` — the clustered /
   *  bucketed layouts compaction produces (M10): min == max under the
   *  stat ordering, exact-valued type (strings only behind the
   *  file's `exactBounds` marker), zero live nulls — or is entirely
   *  NULL on `c` (its own SQL group). Then each file belongs to
   *  exactly one group and the group's aggregates are the same
   *  per-file accounting folds, restricted to its files (reference
   *  per-file accounting, `snapshot_read.rs:52-61`). */
  private def groupable(manifest: Manifest, c: String): Boolean =
    manifest.schema.fields.find(_.name == c).exists { fd =>
      val exact = fd.dataType match {
        case LongType | IntegerType | ShortType | BooleanType | DateType |
             TimestampType | _: DecimalType => (_: graft.format.DataFileEntry) => true
        case StringType =>
          (e: graft.format.DataFileEntry) => e.exactBounds.contains(c)
        case _ => (_: graft.format.DataFileEntry) => false
      }
      val ord = GraftTable.anyOrdering(fd.dataType)
      manifest.dataFiles.forall { e =>
        e.rows == e.deletes || { // zero live rows: contributes nothing
          val nulls = e.nullsOf(c)
          val allNull = nulls.contains(e.rows) // NULL group, bounds-free
          val noLiveNulls = nulls.exists(n => n == 0L ||
            (e.deletes > 0L && e.dvStatsCurrent &&
              e.dvNullsOf(c).contains(n)))
          allNull || (noLiveNulls && exact(e) &&
            e.stats.get(c).exists(s => s.length == 2 &&
              ord.equiv(GraftTable.parseStat(fd.dataType, s.head),
                GraftTable.parseStat(fd.dataType, s(1)))))
        }
      }
    }

  /** Live NULL count of `col` in file `e`, when knowable: physical
   *  nulls for a delete-free file; physical minus masked nulls while
   *  the masked accounting is current; unknown otherwise. */
  private def liveNullsOf(e: graft.format.DataFileEntry,
      c: String): Option[Long] =
    e.nullsOf(c).flatMap { n =>
      if (e.deletes == 0L) Some(n) else e.dvNullsOf(c).map(n - _)
    }

  /** The EXACT live group split of file `e` on column `c` — one
   *  (value, live rows) cell per distinct live value, plus a (null,
   *  live nulls) cell when live nulls exist — or None when the split
   *  is not knowable from the accounting. Values are external
   *  (parseStat) representation. Three derivations, in order:
   *  all-NULL (one null cell, bounds-free), recorded per-value
   *  accounting (`valuesOf`, trusted only while live — plus the null
   *  cell from the null accounting), single-valued bounds (the
   *  complete path's rule, relaxed to allow a null cell beside the
   *  lone value — per-file knowledge the single-valued COMPLETE gate
   *  cannot use because its one-row-per-group contract has no way to
   *  express a two-group file). */
  private def cellsOf(manifest: Manifest, e: graft.format.DataFileEntry,
      c: String): Option[Seq[(Any, Long)]] = {
    val fd = manifest.schema.fields.find(_.name == c).getOrElse(return scala.None)
    val liveRows = e.rows - e.deletes
    if (e.nullsOf(c).contains(e.rows)) // physically all-NULL ⊇ live
      return Some(Seq((null, liveRows)))
    liveNullsOf(e, c).flatMap { nulls =>
      val nullCell = if (nulls > 0L) Seq((null: Any, nulls)) else Nil
      e.valuesOf(c) match {
        case Some(vm) =>
          val cells = vm.toSeq.map { case (v, n) =>
            (GraftTable.parseStat(fd.dataType, v), n) } ++ nullCell
          // the accounting must tile the file exactly; a mismatch means
          // torn metadata — decline rather than answer wrong
          if (cells.map(_._2).sum == liveRows) Some(cells) else scala.None
        case scala.None =>
          val exact = fd.dataType match {
            case LongType | IntegerType | ShortType | BooleanType |
                 DateType | TimestampType | _: DecimalType => true
            case StringType => e.exactBounds.contains(c)
            case _ => false
          }
          val ord = GraftTable.anyOrdering(fd.dataType)
          // bounds describe LIVE rows only when delete-free or refreshed
          val liveBounds = e.deletes == 0L || e.dvStatsCurrent
          e.stats.get(c) match {
            case Some(s) if s.length == 2 && exact && liveBounds &&
                ord.equiv(GraftTable.parseStat(fd.dataType, s.head),
                  GraftTable.parseStat(fd.dataType, s(1))) &&
                liveRows - nulls > 0L =>
              Some(Seq((GraftTable.parseStat(fd.dataType, s.head),
                liveRows - nulls)) ++ nullCell)
            case _ => scala.None
          }
      }
    }
  }

  /** COUNT(cc) is derivable for every cell file `e` contributes:
   *  cc is a group column (a value cell's rows are all non-null on it,
   *  a null cell counts zero), or cc has zero live nulls in the file
   *  (count = cell rows), or is live-all-NULL (count = 0), or the file
   *  is a single joint cell (count = live non-nulls, the complete
   *  path's rule). `split` = the file spans more than one joint cell. */
  private def countDerivable(e: graft.format.DataFileEntry, cc: String,
      gs: Seq[String], split: Boolean): Boolean =
    gs.contains(cc) || liveNullsOf(e, cc).contains(0L) ||
      e.nullsOf(cc).contains(e.rows) ||
      (!split && liveNullsOf(e, cc).isDefined)

  /** PARTIAL pushdown gate: COUNT-only GROUP BY answerable per
   *  file-cell from the manifest on ANY layout — each live file must
   *  have a knowable group split (`cellsOf`) on every group column,
   *  with AT MOST ONE group column split beyond a single cell (the
   *  joint distribution across two independently-split columns is not
   *  in the accounting), and every COUNT derivable per cell. SUM/MIN/
   *  MAX/AVG never push partially: per-(cell, measure) accounting
   *  does not exist for a multi-valued file — they keep the complete
   *  path (single-valued layouts) or the scan. */
  def supportedPartial(manifest: Manifest, agg: Aggregation): Boolean = {
    val funcs = agg.aggregateExpressions.toSeq
    funcs.nonEmpty && funcs.forall {
      case _: CountStar => true
      case c: Count => !c.isDistinct && colOf(c).isDefined
      case _ => false
    } && groupColsOf(agg).exists { gs =>
      gs.nonEmpty &&
        gs.forall(g => manifest.schema.fieldNames.contains(g)) &&
        manifest.dataFiles.forall { e =>
          e.rows == e.deletes || {
            val cells = gs.map(g => cellsOf(manifest, e, g))
            cells.forall(_.isDefined) &&
              cells.count(_.exists(_.size > 1)) <= 1 && {
                val split = cells.exists(_.exists(_.size > 1))
                funcs.forall {
                  case _: CountStar => true
                  case c: Count =>
                    countDerivable(e, colOf(c).get, gs, split)
                  case _ => false
                }
              }
          }
        }
    }
  }

  /** One partial row per (file, joint group cell): group-key cells in
   *  Spark internal representation, then one LongType partial count
   *  per aggregate — Spark's final aggregate SUMs them per group.
   *  Duplicate keys across rows are the point (that is what makes the
   *  emission valid for any layout); `supportedPartial` proved every
   *  derivation below exists. */
  def partialRows(manifest: Manifest, groupBy: Seq[String],
      funcs: Seq[AggregateFunc]): Seq[Array[Any]] = {
    val fds = groupBy.map(g => manifest.schema.fields.find(_.name == g).get)
    val convs = fds.map(fd =>
      CatalystTypeConverters.createToCatalystConverter(fd.dataType))
    manifest.dataFiles.filter(e => e.rows > e.deletes).flatMap { e =>
      val liveRows = e.rows - e.deletes
      val perCol: Seq[Seq[(Any, Long)]] =
        groupBy.map(g => cellsOf(manifest, e, g).get)
      val splitIdx = perCol.indexWhere(_.size > 1)
      // joint cells: every column but (at most) one is a lone cell, so
      // the joint key varies only along the split column and each
      // joint cell's row count is the split cell's count
      val joint: Seq[(Seq[Any], Long)] =
        if (splitIdx < 0) Seq((perCol.map(_.head._1), liveRows))
        else perCol(splitIdx).map { case (v, n) =>
          (perCol.zipWithIndex.map { case (cells, i) =>
            if (i == splitIdx) v else cells.head._1 }, n)
        }
      joint.map { case (key, n) =>
        val cells = key.zipWithIndex.map { case (v, i) =>
          if (v == null) null else convs(i)(v) }
        val aggCells = funcs.map {
          case _: CountStar => java.lang.Long.valueOf(n)
          case c: Count =>
            val cc = colOf(c).get
            val gi = groupBy.indexOf(cc)
            java.lang.Long.valueOf(
              if (gi >= 0) { if (key(gi) == null) 0L else n }
              else if (liveNullsOf(e, cc).contains(0L)) n
              else if (e.nullsOf(cc).contains(e.rows)) 0L
              else n - liveNullsOf(e, cc).get) // single joint cell
          case other => throw new IllegalStateException(
            s"unsupported partial agg $other")
        }
        (cells ++ aggCells).toArray
      }
    }
  }

  def supported(manifest: Manifest, agg: Aggregation): Boolean =
    (agg.groupByExpressions.isEmpty ||
      groupColsOf(agg).exists(gs =>
        gs.nonEmpty && gs.forall(groupable(manifest, _)))) &&
      agg.aggregateExpressions.nonEmpty &&
      avgRewriteSafe(manifest, agg.aggregateExpressions.toSeq) &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case c: Count =>
          !c.isDistinct && colOf(c).exists(col =>
            manifest.dataFiles.forall(e =>
              e.nullsOf(col).isDefined && dvNullsCounted(e, col)))
        case s: Sum => sumPushable(manifest, s)
        case a: Avg => avgPushable(manifest, a)
        case f @ (_: Min | _: Max) =>
          colOf(f).exists { c =>
            // statsComparable is the PRUNING gate; bounds used as the
            // ANSWER must additionally be exact values from the data.
            // String bounds may not be: statBounds truncates a >32-cp
            // min to a prefix (below the true min) and LIFTS a >32-cp
            // max to a synthetic upper bound not present in the table —
            // prune-safe, aggregate-wrong. A short stored bound cannot
            // prove the original was short (a lifted max can land at
            // any length), so strings push ONLY when the writer marked
            // the file's bounds exact (`exactBounds`, recorded when
            // neither end was truncated/lifted); pre-marker manifests
            // keep declining.
            val isString = manifest.schema.fields.find(_.name == c)
              .exists(_.dataType.isInstanceOf[StringType])
            manifest.schema.fields.find(_.name == c)
              .exists(fd => GraftTable.statsComparable(fd.dataType)) &&
              manifest.dataFiles.forall(e =>
                (e.deletes == 0L || e.dvStatsCurrent) &&
                  // a file with zero LIVE rows contributes nothing and
                  // legitimately has no live bounds; it must not block
                  (e.rows == e.deletes ||
                    (e.stats.get(c).exists(_.length == 2) &&
                      (!isString || e.exactBounds.contains(c)))))
          }
        case _ => false
      }

  /** Spark's SUM result type: LongType over integrals,
   *  DecimalType.bounded(p+10, s) over decimal(p, s). */
  private def sumResultType(schema: StructType, s: Sum): DataType =
    colOf(s).flatMap(c => schema.fields.find(_.name == c))
      .map(_.dataType) match {
      case Some(d: DecimalType) =>
        DecimalType(math.min(DecimalType.MAX_PRECISION, d.precision + 10),
          d.scale)
      case _ => LongType
    }

  /** Pushed-scan output schema: GROUP BY columns first (Spark's
   *  V2ScanRelationPushDown matches them positionally), then one field
   *  per aggregate. */
  def schemaFor(schema: StructType, groupBy: Seq[String],
      funcs: Seq[AggregateFunc]): StructType =
    StructType(groupBy.map { g =>
      val fd = schema.fields.find(_.name == g).getOrElse(
        throw new IllegalStateException(s"unknown group column $g"))
      StructField(g, fd.dataType, nullable = true)
    } ++ schemaFor(schema, funcs).fields)

  def schemaFor(schema: StructType, funcs: Seq[AggregateFunc]): StructType =
    StructType(funcs.zipWithIndex.map {
      case (_: CountStar | _: Count, i) =>
        StructField(s"agg_$i", LongType, nullable = false)
      case (s: Sum, i) =>
        StructField(s"agg_$i", sumResultType(schema, s), nullable = true)
      case (_: Avg, i) => // Spark's AVG over integral inputs is DoubleType
        StructField(s"agg_$i", DoubleType, nullable = true)
      case (f, i) =>
        val dt = colOf(f).flatMap(c => schema.fields.find(_.name == c)).map(_.dataType)
          .getOrElse(throw new IllegalStateException(s"unsupported pushed agg $f"))
        StructField(s"agg_$i", dt, nullable = true)
    })

  /** Final values in Spark internal representation (UTF8String, micros,
   *  days) — computed entirely from the manifest. */
  def values(manifest: Manifest, funcs: Seq[AggregateFunc]): Array[Any] = {
    def extreme(f: AggregateFunc, isMin: Boolean): Any = {
      val c = colOf(f).get
      val fd = manifest.schema.fields.find(_.name == c).get
      implicit val ord: Ordering[Any] = GraftTable.anyOrdering(fd.dataType)
      // zero-live files carry no live bounds and contribute nothing
      val perFile = manifest.dataFiles
        .filter(e => e.rows > e.deletes && e.stats.get(c).exists(_.length == 2))
        .map(e => GraftTable.parseStat(fd.dataType, e.stats(c)(if (isMin) 0 else 1)))
      if (perFile.isEmpty) null
      else CatalystTypeConverters.createToCatalystConverter(fd.dataType)(
        if (isMin) perFile.min else perFile.max)
    }
    funcs.map {
      case _: CountStar => java.lang.Long.valueOf(manifest.liveRows)
      case c: Count =>
        val col = colOf(c).get
        java.lang.Long.valueOf(manifest.dataFiles
          .map(e => liveNonNull(e, col)).sum)
      case s: Sum =>
        val col = colOf(s).get
        val nonNull = manifest.dataFiles.map(e => liveNonNull(e, col)).sum
        if (nonNull == 0L) null // SUM over zero values is NULL
        else manifest.schema.fields.find(_.name == col).map(_.dataType) match {
          case Some(_: DecimalType) =>
            // exact total, proven in-bounds by decSumPushable; the
            // converter rescales to the buffer type's (p+10, s)
            CatalystTypeConverters.createToCatalystConverter(
              sumResultType(manifest.schema, s))(
              manifest.dataFiles.foldLeft(java.math.BigDecimal.ZERO)(
                (a, e) => a.add(liveDecSum(e, col))))
          case _ => java.lang.Long.valueOf(
            manifest.dataFiles.foldLeft(0L)((a, e) => a + liveSum(e, col)))
        }
      case a: Avg =>
        val col = colOf(a).get
        val nonNull = manifest.dataFiles.map(e => liveNonNull(e, col)).sum
        if (nonNull == 0L) null // AVG over zero values is NULL
        else java.lang.Double.valueOf(
          manifest.dataFiles.foldLeft(0L)((x, e) => x + liveSum(e, col))
            .toDouble / nonNull.toDouble)
      case f: Min => extreme(f, isMin = true)
      case f: Max => extreme(f, isMin = false)
      case other => throw new IllegalStateException(s"unsupported pushed agg $other")
    }.toArray
  }

  /** One output row per GROUP: partition the live files by their
   *  (single) group-key tuple — `groupable` proved each file belongs
   *  to exactly one — and fold each group's aggregates over ITS files
   *  with the same per-file accounting as the global path. Group-key
   *  cells are emitted in Spark internal representation. */
  def groupedValues(manifest: Manifest, groupBy: Seq[String],
      funcs: Seq[AggregateFunc]): Seq[Array[Any]] = {
    val fds = groupBy.map(g => manifest.schema.fields.find(_.name == g).get)
    def keyOf(e: graft.format.DataFileEntry): Seq[Option[Any]] =
      fds.map { fd =>
        if (e.nullsOf(fd.name).contains(e.rows)) scala.None // NULL group
        else Some(GraftTable.parseStat(fd.dataType, e.stats(fd.name).head))
      }
    val live = manifest.dataFiles.filter(e => e.rows > e.deletes)
    live.groupBy(keyOf).toSeq
      // deterministic plan output (Spark re-sorts as needed)
      .sortBy(_._1.map(_.map(_.toString).getOrElse("")).mkString("\u0000"))
      .map { case (key, files) =>
        val cells = key.zip(fds).map {
          case (scala.None, _) => null
          case (Some(v), fd) =>
            CatalystTypeConverters.createToCatalystConverter(fd.dataType)(v)
        }
        (cells ++ values(manifest.copy(dataFiles = files), funcs)).toArray
      }
  }
}

private[sources] final case class GraftAggPartition(rows: Seq[Array[Any]])
    extends InputPartition

private[sources] class GraftAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = partition.asInstanceOf[GraftAggPartition].rows.iterator
      private var cur: Array[Any] = null
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = new GenericInternalRow(cur)
      override def close(): Unit = ()
    }
}

private[sources] final case class GraftInputPartition(
    path: String, rows: Long, dvBlob: Array[Byte],
    cap: Long = -1L,
    splitStart: Long = 0L, splitEnd: Long = Long.MaxValue,
    // storage bucket id when the file came from a bucketed rewrite
    // (Manifest.DataFileEntry.bucket); consulted by Spark ONLY when the
    // scan reports KeyGroupedPartitioning, which the scan gates on
    // every planned file carrying a valid id
    bucket: Long = -1L)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket.toInt))
}

/** Several files (or byte ranges) read back to back by one task — the
 *  batch scan's packed partition (`GraftScan.pack`). */
private[sources] final case class GraftPackedPartition(
    files: Array[GraftInputPartition]) extends InputPartition

private[sources] class GraftReaderFactory(requiredJson: String,
    physNames: Map[String, String])
    extends PartitionReaderFactory {

  @transient private lazy val required: StructType =
    DataType.fromJson(requiredJson).asInstanceOf[StructType]

  /** Every scan with a column streams ColumnarBatches to Spark (the
   *  ColumnarToRow-fed fast path), DV'd files included: their deletes
   *  ride as selection vectors. COUNT(*)-style zero-column scans stay
   *  on the row path (synthetic rows, zero parquet bytes). */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    required.fields.nonEmpty

  private def files(partition: InputPartition): Array[GraftInputPartition] =
    partition match {
      case p: GraftInputPartition => Array(p)
      case GraftPackedPartition(fs) => fs
    }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new GraftChainedReader(files(partition),
      new GraftColumnarReader(_, required, physNames))

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    require(required.fields.isEmpty, "scans with columns are read columnar")
    new GraftChainedReader(files(partition), new GraftCountReader(_))
  }
}

/** Reads `files` one after another, opening each only when the
 *  previous one is exhausted (one open parquet file per task). */
private[sources] class GraftChainedReader[T](files: Array[GraftInputPartition],
    open: GraftInputPartition => PartitionReader[T]) extends PartitionReader[T] {
  private var opened = 0
  private var cur: PartitionReader[T] = _

  override def next(): Boolean = {
    while (cur != null || opened < files.length) {
      if (cur == null) { cur = open(files(opened)); opened += 1 }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/**
 * Shared setup for the executor-side readers: Spark's
 * `VectorizedParquetRecordReader` over the PRUNED projection, with the
 * file's footer doctored so fully-deleted ROW GROUPS never reach the
 * reader (the reference's `RowSelection` skip at row-group granularity,
 * `table_provider.rs:140-167`) plus the absolute-row-position ranges of
 * the groups that survive (for residual per-row DV skips).
 *
 * Column mapping: the table field is stored under its physical name, so
 * the requested Catalyst schema sent to the reader carries physical
 * names (order = `required` order — downstream consumption is
 * positional). A field absent from the file (written before an
 * alterAddColumn, or remapped after drop+re-add) becomes a null vector.
 */
private[sources] object GraftVectorReader {
  /** (reader, kept-group ranges as (startPos, rowCount) in read order).
   *  `dv` may be null (no deletes). */
  def open(part: GraftInputPartition, required: StructType,
      physNames: Map[String, String], dv: Roaring64Bitmap)
      : (VectorizedParquetRecordReader, Array[(Long, Long)]) = {
    val physRequired = StructType(required.fields.map(f =>
      f.copy(name = physNames.getOrElse(f.name, f.name))))

    // a copy of the shared, already-parsed conf: `new Configuration()`
    // re-parses Hadoop's XML defaults (~8 ms per file)
    val conf = new Configuration(Fio.hadoopConf)
    // the conf the built-in parquet source prepares on its hadoopConf —
    // ParquetReadSupport resolves the requested schema from it
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", physRequired.json)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", false)

    val hPath = new org.apache.hadoop.fs.Path(part.path)
    val inputFile = HadoopInputFile.fromPath(hPath, conf)
    // explicit options: the one-argument open builds (and parses) a
    // fresh Hadoop Configuration per call
    val fr = ParquetFileReader.open(inputFile, HadoopReadOptions.builder(conf).build())
    val footer = try fr.getFooter finally fr.close()

    // absolute row positions per row group: positions are the running
    // row count over the FULL footer, independent of which groups this
    // partition reads
    var off = 0L
    val blocks = footer.getBlocks.asScala.toSeq.map { b =>
      val start = off; off += b.getRowCount; (b, start, b.getRowCount)
    }
    // a group belongs to this partition iff its byte MIDPOINT falls in
    // the split range (parquet-mr's own range rule, so byte-range
    // splits partition the groups exactly); fully-DV'd groups drop here
    // too — their pages are never fetched
    val kept = blocks.filter { case (b, start, n) =>
      val mid = b.getStartingPos + b.getCompressedSize / 2
      mid >= part.splitStart && mid < part.splitEnd &&
        (dv == null || rangeCardinality(dv, start, n) < n)
    }
    val doctored = new ParquetMetadata(footer.getFileMetaData,
      kept.map(_._1).asJava)

    // our files are always written by this engine on Spark 4 — modern
    // parquet, no julian/gregorian rebase (CORRECTED = pass-through)
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    val split = new FileSplit(hPath, 0, inputFile.getLength, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(conf, new TaskAttemptID())
    val stream = inputFile.newStream()
    try reader.initialize(split, ctx, Some(inputFile), Some(stream), Some(doctored))
    catch { case t: Throwable => stream.close(); throw t }
    reader.initBatch(new StructType(), new GenericInternalRow(0))
    (reader, kept.map { case (_, start, n) => (start, n) }.toArray)
  }

  /** deleted positions within [start, start+n) */
  def rangeCardinality(dv: Roaring64Bitmap, start: Long, n: Long): Long =
    dv.rankLong(start + n - 1) - (if (start > 0) dv.rankLong(start - 1) else 0L)
}

/** Columnar reader: whole `ColumnarBatch`es flow to Spark, identical
 *  shape to the built-in vectorized parquet scan. Under a DV each
 *  decoded row maps to its absolute position through the kept
 *  row-group ranges (fully-deleted groups never reached the reader); a
 *  batch without deletes passes through as decoded, a fully deleted one
 *  is skipped, and a partly deleted one is served through
 *  [[GraftSelectedVector]] views over its live rows. */
private[sources] class GraftColumnarReader(part: GraftInputPartition,
    required: StructType, physNames: Map[String, String])
    extends PartitionReader[ColumnarBatch] {
  private val dv: Roaring64Bitmap =
    if (part.dvBlob == null) null else DvCache.deserialize(part.dvBlob)
  private val (reader, ranges) = GraftVectorReader.open(part, required, physNames, dv)
  reader.enableReturningBatches()
  private var rangeIdx = 0
  private var ordinalInRange = 0L
  private var emitted = 0L
  private var live: Array[Int] = Array.emptyIntArray
  private var current: ColumnarBatch = _

  // deleted positions in read order (kept ranges ascend through the file)
  private val deletedIt = if (dv == null) null else dv.getLongIterator

  /** Live row ids of the next `n` decoded rows into `live`; returns
   *  their count (`n` = none deleted, `live` then left unfilled). */
  private def selectLive(n: Int): Int = {
    var i = 0
    var nLive = 0
    var anyDeleted = false
    while (i < n) {
      while (ordinalInRange >= ranges(rangeIdx)._2) {
        rangeIdx += 1; ordinalInRange = 0L
      }
      val pos = ranges(rangeIdx)._1 + ordinalInRange
      val take = math.min(n - i, ranges(rangeIdx)._2 - ordinalInRange).toInt
      deletedIt.advanceIfNeeded(pos)
      var nextDeleted = if (deletedIt.hasNext) deletedIt.peekNext() else Long.MaxValue
      if (!anyDeleted && nextDeleted < pos + take) {
        anyDeleted = true
        if (live.length < n) live = new Array[Int](n)
        var j = 0
        while (j < i) { live(j) = j; j += 1 } // rows so far were all live
      }
      if (!anyDeleted) nLive += take
      else {
        var j = 0
        while (j < take) {
          if (pos + j == nextDeleted) {
            deletedIt.next()
            nextDeleted = if (deletedIt.hasNext) deletedIt.peekNext() else Long.MaxValue
          } else { live(nLive) = i + j; nLive += 1 }
          j += 1
        }
      }
      i += take; ordinalInRange += take
    }
    nLive
  }

  override def next(): Boolean = {
    if (part.cap >= 0L && emitted >= part.cap) return false
    while (reader.nextKeyValue()) {
      val batch = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      val n = batch.numRows()
      val nLive = if (dv == null) n else selectLive(n)
      // the cap is a row budget: the last batch is cut to it
      val out = if (part.cap >= 0L) math.min(nLive.toLong, part.cap - emitted).toInt
        else nLive
      if (out > 0) {
        current =
          if (nLive == n) { batch.setNumRows(out); batch }
          else new ColumnarBatch(Array.tabulate[
            org.apache.spark.sql.vectorized.ColumnVector](batch.numCols())(c =>
              new GraftSelectedVector(batch.column(c), live, out)), out)
        emitted += out
        return true
      }
    }
    false
  }
  override def get(): ColumnarBatch = current
  override def close(): Unit = reader.close()
}

/** A selection-vector view of `numRows` rows: row `i` of the view is
 *  row `live(i)` of `base`. Zero-copy; children are views too, so
 *  struct, array, map, decimal and interval columns resolve through the
 *  same remap. */
private[sources] final class GraftSelectedVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, live: Array[Int],
    numRows: Int)
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType()) {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarMap}
  import org.apache.spark.sql.types.Decimal
  import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String}

  // the reader owns and closes the decoded vectors
  override def close(): Unit = ()
  override def hasNull(): Boolean = base.hasNull()
  override def numNulls(): Int =
    if (!base.hasNull()) 0 else (0 until numRows).count(isNullAt)
  override def isNullAt(rowId: Int): Boolean = base.isNullAt(live(rowId))
  override def getBoolean(rowId: Int): Boolean = base.getBoolean(live(rowId))
  override def getByte(rowId: Int): Byte = base.getByte(live(rowId))
  override def getShort(rowId: Int): Short = base.getShort(live(rowId))
  override def getInt(rowId: Int): Int = base.getInt(live(rowId))
  override def getLong(rowId: Int): Long = base.getLong(live(rowId))
  override def getFloat(rowId: Int): Float = base.getFloat(live(rowId))
  override def getDouble(rowId: Int): Double = base.getDouble(live(rowId))
  override def getArray(rowId: Int): ColumnarArray = base.getArray(live(rowId))
  override def getMap(rowId: Int): ColumnarMap = base.getMap(live(rowId))
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(live(rowId), precision, scale)
  override def getUTF8String(rowId: Int): UTF8String = base.getUTF8String(live(rowId))
  override def getBinary(rowId: Int): Array[Byte] = base.getBinary(live(rowId))
  override def getInterval(rowId: Int): CalendarInterval = base.getInterval(live(rowId))
  override def getChild(ordinal: Int): ColumnVector =
    new GraftSelectedVector(base.getChild(ordinal), live, numRows)
}

/** Zero-column scans (COUNT(*) shapes): no parquet bytes touched —
 *  emit (rows - deletes) empty rows straight from the metadata. When a
 *  file was byte-range split, only the FIRST split emits (per-split
 *  row counts would need footer IO, and a metadata-only count doesn't
 *  benefit from parallelism). */
private[sources] class GraftCountReader(part: GraftInputPartition)
    extends PartitionReader[InternalRow] {
  private val dv: Roaring64Bitmap =
    if (part.dvBlob == null) null else DvCache.deserialize(part.dvBlob)
  private var left: Long = {
    val live =
      if (part.splitStart > 0L) 0L
      else part.rows - (if (dv == null) 0L else dv.getLongCardinality)
    if (part.cap >= 0L) math.min(live, part.cap) else live
  }
  private val row = new GenericInternalRow(0)
  override def next(): Boolean = if (left <= 0L) false else { left -= 1; true }
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
