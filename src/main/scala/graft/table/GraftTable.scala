package graft.table

import graft.format._
import graft.model._
import graft.observability.Metrics
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.roaringbitmap.longlong.Roaring64Bitmap

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Tuning knobs. Defaults mirror the reference's release envelope
 *  (`mooncake_table_config.rs:21-163`, `compaction_config.rs:48-55`). */
final case class TableConfig(
    /** rows buffered in memory before a flush triggers at the next
     *  commit boundary (reference mem-slice = 4096*32 = 131072). */
    memSliceSize: Int = 131072,
    /** target rows per parquet data file (stands in for the reference's
     *  128 MiB size-tuned files; at ~128 B/row this is ~128 MiB). */
    rowsPerFile: Int = 1 << 20,
    /** compaction: run when >= this many under-sized files exist. */
    compactFileCountThreshold: Int = 16,
    compactMaxFilesPerOp: Int = 32,
    /** compaction: a file under this many rows is "small". */
    compactSmallFileRows: Long = 1 << 19,
    /** compaction: rewrite a file once this fraction of it is deleted. */
    compactDeleteRatio: Double = 0.5,
    /** write an event log (WAL) per apply() and replay it on open. */
    walEnabled: Boolean = true,
    /** micro-batches at or below this many events take the simple
     *  collect-to-driver event path; larger control-bearing batches
     *  stream partition-at-a-time through `applyStreamed` so driver
     *  memory stays bounded by one shuffle partition + the mem-slice
     *  (plain data batches never touch the driver at any size —
     *  `applyBatchDF`). */
    driverEventBatchRows: Long = 100000,
    /** auto index merge (M11): consolidate once this many index files
     *  accumulate (reference `index_merge_config.rs:9-31` merges at
     *  >= 16 under final size). Delete resolution reads every unranged
     *  index file, so unbounded growth would slow each publish. */
    indexMergeFileCountThreshold: Int = 16,
    /** read path: apply DVs via a broadcast of roaring-serialized
     *  bitmaps up to this many deleted positions; above it, fall back
     *  to a shuffle anti-join against the DV parquet (the broadcast
     *  would otherwise grow with total delete volume). */
    dvBroadcastMaxDeletes: Long = 10L * 1000 * 1000,
    /** batch ingest: past this many fall-through deletes in one batch,
     *  resolution runs fully distributed (delete frame |><| key index
     *  -> per-file roaring DV delta) instead of collecting delete keys
     *  to the driver — a purge-style batch never funnels keys. */
    distributedDeleteThreshold: Long = 100L * 1000,
    /** bucketed tables: a distributed batch routes onto the bucket
     *  layout only when it averages at least this many rows per bucket;
     *  below it (micro-batches on a wide layout — 1k rows on 1024
     *  buckets would fan out to ~600 one-row files PER BATCH) the batch
     *  writes unbucketed, the scan's SPJ gate degrades per-scan, and
     *  the next maintenance compaction re-buckets the small-file tail
     *  (its escalation keeps the layout). File hygiene beats keeping
     *  SPJ alive batch-by-batch at that size. */
    bucketRouteMinRowsPerBucket: Int = 8,
    /** vacuum keeps files referenced by this many latest manifest
     *  versions (>=1; 1 = current snapshot only). Versions inside the
     *  horizon stay time-travelable AFTER vacuum; older manifests
     *  remain loadable but their exclusive files are reclaimed —
     *  bound the log itself with [[GraftTable.expireVersions]]
     *  (Iceberg expire-snapshots / retention semantics). */
    retainVersions: Int = 1,
    /** maintenance: bound the manifest version log itself — the
     *  periodic tick expires down to this many latest versions once
     *  the log exceeds it. Every commit adds a vN.json and nothing
     *  else retires them: at one commit per 1-second micro-batch a
     *  deployed daemon accumulates ~86k manifest documents per day per
     *  table, and versions beyond vacuum's `retainVersions` horizon
     *  are generally not re-materializable anyway (their exclusive
     *  files are reclaimed), so keeping their metadata forever is pure
     *  directory growth. Expiry forgets ONLY metadata (never races a
     *  pinned reader); the synced Iceberg export ages with the same
     *  horizon. 0 disables auto-expiry (explicit [[expireVersions]] /
     *  `CALL system.expire_snapshots` only). */
    expireKeepVersions: Int = 1024,
    /** open()-time orphan sweep only reclaims debris OLDER than this
     *  (crash leftovers), so it can never race a LIVE concurrent
     *  writer — a streaming sink's tmp staging or another writer's
     *  just-moved, not-yet-committed data file is younger than the
     *  window and survives. Immediate reclamation is the explicit
     *  vacuum()'s job (exclusive by contract). 0 = sweep everything
     *  (single-writer tests / recovery tools). */
    orphanGraceMs: Long = 10L * 60 * 1000)

/**
 * A Graft table: PK-identified, LSN-versioned, append/upsert/delete
 * table over plain Parquet + a versioned JSON manifest + deletion
 * vectors + a persisted key index — the Spark-native re-expression of
 * the reference's `MooncakeTable`
 * (`src/moonlink/src/storage/mooncake_table.rs:85,159`).
 *
 * Threading contract: one writer (like the reference's one event-loop
 * task per table, `table_handler.rs:124`); readers consume immutable
 * published manifest versions.
 *
 * Scale design: all heavy work (flush writes, index builds, delete
 * resolution joins, compaction rewrites, reads) runs as Spark jobs over
 * the cluster; the driver holds only the bounded mem-slice
 * (<= memSliceSize rows), roaring-compressed DV bitmaps (pruned by
 * compaction) and the manifest. Delete resolution never scans data
 * files — it probes the persisted key index with the delete keys'
 * xxhash64 set (computed on the driver, pruning hash-ranged index
 * files by coverage) and matches keys exactly on the driver, one Spark
 * job per commit, mirroring the reference's hash-index point lookup
 * (`persisted_bucket_hash_map.rs:276`).
 */
final class GraftTable private (
    val spark: SparkSession,
    val root: String,
    initManifest: Manifest,
    val identity: Identity,
    val config: TableConfig) {

  import GraftTable._

  // ---- persistent state (from / to the manifest) -----------------------
  private var schemaVar: StructType = initManifest.schema
  def schema: StructType = schemaVar
  private val keyCols: Seq[String] = initManifest.keyCols
  private val fileEntries = mutable.LinkedHashMap[String, DataFileEntry](
    initManifest.dataFiles.map(e => e.path -> e): _*)
  private val dvFiles = mutable.ArrayBuffer[String](initManifest.dvFiles: _*)
  private val indexFiles =
    mutable.ArrayBuffer[IndexFileEntry](initManifest.indexFiles: _*)
  private var versionVar: Long = initManifest.version
  private var commitLsnVar: Long = initManifest.commitLsn
  private var flushLsnVar: Long = initManifest.flushLsn
  // monotonic field-id high-water mark: never reuse a dropped column's
  // id, even across reopen (iceberg last-column-id semantics)
  private var lastFieldIdVar: Long = math.max(initManifest.lastFieldId,
    SchemaDsl.maxFieldId(initManifest.schema))
  // physical names dropped from the schema but possibly still present
  // in live data files (drop never rewrites data)
  private val droppedColsVar =
    mutable.ArrayBuffer[String](initManifest.droppedCols: _*)
  // streaming-sink exactly-once watermark (see Manifest.streamEpochs);
  // total high-water for observability, per-QUERY map for correctness
  private var streamEpochsVar: Long = initManifest.streamEpochs
  // storage-bucket count from the last bucketed compaction (see
  // Manifest.bucketN); per-file ids live in the DataFileEntry
  private var bucketNVar: Long = initManifest.bucketN
  // (version → commitLsn) facts for readAsOf's newest-first cut scan:
  // immutable once committed (CAS admits only identical manifests per
  // version; full-vs-delta re-encodings share the scalar), so memoizing
  // is not result caching — repeated time-travel cuts re-read nothing.
  // Entries for expired versions are never consulted (the scan iterates
  // the live listing) and cost 16 bytes each until the handle closes.
  private val commitLsnMemo = mutable.HashMap[Long, Long]()
  // the last manifest known durable through THIS handle — the no-op
  // publish guard compares against it (version field excepted)
  private var lastPublishedVar: Manifest = initManifest
  private var queryEpochsVar: Map[String, Long] = initManifest.queryEpochs

  def version: Long = versionVar
  def commitLsn: Long = commitLsnVar
  def flushLsn: Long = flushLsnVar

  // ---- in-memory state (the mem slice) ---------------------------------
  private final class TailRow(val row: Row, val lsn: Long) {
    var deletedLsn: Long = -1L
    def live: Boolean = deletedLsn < 0
  }
  private val tail = mutable.ArrayBuffer[TailRow]()
  /** key -> stack of live tail rows, head = latest append. A delete
   *  kills exactly the latest live row of its key (the reference's
   *  index point-lookup finds one RecordLocation, `hash_index.rs:35`);
   *  older same-key appends stay reachable for later deletes. */
  private val tailIndex = mutable.HashMap[KeyVal, List[TailRow]]()
  /** deletes targeting already-flushed rows; resolved set-based at
   *  publish (reference keeps a deletion log, `snapshot.rs:1000`). */
  private val pendingDeletes = mutable.ArrayBuffer[(Seq[Any], Long)]()
  /** WAL segment -> its max event LSN, for every segment this handle
   *  appended or replayed; publish truncates from it without reading
   *  segments back. */
  private val walSegments = mutable.HashMap[String, Long]()
  /** DV delta not yet persisted to a dv parquet sidecar. */
  private val newDvPairs = mutable.ArrayBuffer[(String, Long)]()
  /** data-file basename -> deleted row positions (all committed DVs). */
  private val dvMap = mutable.HashMap[String, Roaring64Bitmap]()
  /** serialized-roaring broadcast (deserialized once per executor JVM by
   *  `DvCache`, never expanded to raw position arrays). */
  private var dvBroadcast: Option[Broadcast[Map[String, Array[Byte]]]] = scala.None

  // ---- streaming transactions (reference transaction_stream.rs:17) -----
  private final class XactState {
    val buffer = mutable.ArrayBuffer[TailRow]()
    val index = mutable.HashMap[KeyVal, List[TailRow]]()
    val pendingDeletes = mutable.ArrayBuffer[Seq[Any]]()
    val stagedFiles = mutable.ArrayBuffer[DataFileEntry]()
    val stagedIndexFiles = mutable.ArrayBuffer[IndexFileEntry]()
    // The stage-flush trigger reads buffer.length (O(1) on ArrayBuffer):
    // TOTAL buffered rows including tombstones, matching the reference's
    // should_transaction_flush over mem_slice.get_num_rows()
    // (mooncake_table.rs:858) — a live-only count would let an
    // upsert-heavy txn (delete+append per key) grow the buffer unbounded.
  }
  private val xacts = mutable.HashMap[Long, XactState]()

  // ---- per-key stack helpers (shared by main tail and xact buffers) ----
  private def stackPush(ix: mutable.HashMap[KeyVal, List[TailRow]],
      k: KeyVal, tr: TailRow): Unit =
    ix.updateWith(k)(l => Some(tr :: l.getOrElse(Nil)))

  /** The engine-wide delete rule: a delete targets the NEWEST row of
   *  its key appended strictly before it, dead or alive. If that row
   *  is already dead the delete is a duplicate/stale delivery
   *  (at-least-once CDC, WAL replay) and must NO-OP — a PK stream
   *  never deletes the same key twice without a re-insert, so popping
   *  an older row instead would over-delete on redelivery. Dead rows
   *  therefore stay on the stack as blockers until flush drops them.
   *  Returns true if handled in-memory (killed or no-op'd), false if
   *  the key has no tail row at all and the delete must fall through
   *  to the committed table. */
  private def stackMark(ix: mutable.HashMap[KeyVal, List[TailRow]],
      k: KeyVal, dlsn: Long): Boolean =
    ix.get(k) match {
      case Some(head :: _) =>
        if (head.live) head.deletedLsn = dlsn
        true // dead head: duplicate delivery -> no-op
      case _ => false
    }

  /** Drop rows no longer in the tail (flushed or dead). */
  private def stackRetain(ix: mutable.HashMap[KeyVal, List[TailRow]])(
      keep: TailRow => Boolean): Unit = {
    ix.mapValuesInPlace((_, l) => l.filter(keep))
    ix.filterInPlace((_, l) => l.nonEmpty)
  }

  // env-gated phase timing for ingest profiling (GRAFT_PROF=1)
  private val profEnabled = sys.env.get("GRAFT_PROF").contains("1")
  private def prof[A](tag: String)(f: => A): A =
    if (!profEnabled) f else {
      val t0 = System.nanoTime(); val r = f
      println(f"[graft-prof] $tag%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  private var nextFileId: Long = {
    val manifestIds = (fileEntries.keys ++ dvFiles ++ indexFiles.map(_.path))
      .flatMap(n => "\\d{9}".r.findFirstIn(n)).map(_.toLong)
    // uncommitted orphans from a crashed (or concurrently live) writer
    // can outlive the AGE-GATED open sweep; their ids must never be
    // reissued or the next flush's rename lands on the orphan and
    // fails. One listing per dir at handle construction — O(files),
    // already paid by the open sweep itself.
    val diskIds = Seq("data", "dv", "index")
      .flatMap(sub => Fio.list(s"$root/$sub"))
      .flatMap(n => "\\d{9}".r.findFirstIn(n)).map(_.toLong)
    (manifestIds ++ diskIds).maxOption.getOrElse(-1L) + 1
  }
  private def newId(): Long = { val i = nextFileId; nextFileId += 1; i }

  // key columns resolved positionally against the table schema (ingest
  // rows are positional and carry no schema of their own)
  private var keyIdx: Seq[Int] = keyCols.map(schemaVar.fieldIndex)
  private def keyOf(row: Row): KeyVal = identity match {
    case Identity.FullRow => KeyVal(row.toSeq)
    case _ => KeyVal(keyIdx.map(row.get))
  }

  private def keyFields: Seq[StructField] = identity match {
    case Identity.FullRow => schemaVar.fields.toSeq
    case _ => keyCols.map(c => schemaVar.fields(schemaVar.fieldIndex(c)))
  }

  // ---- column mapping (physical names) --------------------------------
  // Parquet resolution is by NAME, so a re-added column must not share a
  // physical name with a dropped column still present in old files.
  // Every data-file read requests the PHYSICAL schema and renames to
  // logical; every data-file write renames logical -> physical first.
  // Key columns are never remapped (they cannot be dropped), so index
  // files and delete resolution are unaffected.
  private def physicalSchema: StructType =
    StructType(schemaVar.fields.map(f => f.copy(name = SchemaDsl.physicalName(f))))
  private def hasColumnMapping: Boolean =
    schemaVar.fields.exists(f => SchemaDsl.physicalName(f) != f.name)
  /** physical -> logical projection for frames read with physicalSchema */
  private def toLogicalCols: Seq[org.apache.spark.sql.Column] =
    schemaVar.fields.toSeq.map(f => col(SchemaDsl.physicalName(f)).as(f.name))

  // =====================================================================
  // Ingestion (M1-M6): the reference's §3.1 event pipeline as one
  // deterministic batch function, driven by foreachBatch or direct calls.
  // =====================================================================

  /** Apply a batch of CDC events in order; publish a new manifest
   *  version. Returns the commit LSN after the batch. */
  def apply(events: Seq[CdcEvent]): Long = synchronized {
    if (config.walEnabled && events.nonEmpty)
      walSegments += Wal.append(root, schemaVar, events)
    Metrics.counter("graft.rows_ingested", root, events.count {
      case _: Append | _: Delete => true
      case _ => false
    }.toLong)
    Metrics.counter("graft.commits", root, events.count {
      case Commit(_, scala.None) => true
      case _ => false
    }.toLong)
    applyInternal(events)
  }

  private[table] def applyInternal(events: Seq[CdcEvent]): Long = {
    processEvents(events)
    publish()
    commitLsnVar
  }

  /**
   * Streamed variant of `apply` for giant micro-batches: consumes the
   * event iterator in bounded chunks — WAL append + fold per chunk,
   * ONE publish at the end — so the driver never materializes the full
   * batch (`CdcPipeline` feeds this from `toLocalIterator`, holding one
   * Spark partition at a time). Retained state stays bounded by the
   * mem-slice: streaming-transaction buffers drain through
   * `stageXactFlush` at `memSliceSize` rows regardless of event count.
   */
  def applyStreamed(events: Iterator[CdcEvent],
      chunkRows: Int = 65536): Long = synchronized {
    streamedApplies += 1
    events.grouped(chunkRows).foreach { chunk =>
      if (config.walEnabled && chunk.nonEmpty)
        walSegments += Wal.append(root, schemaVar, chunk)
      processEvents(chunk)
    }
    publish()
    commitLsnVar
  }

  /** test-visible evidence that the streamed path ran */
  private[graft] var streamedApplies: Long = 0L

  private def processEvents(events: Seq[CdcEvent]): Unit = {
    events.foreach {
      case Append(row, lsn, scala.None) =>
        val tr = new TailRow(row, lsn)
        tail += tr
        if (identity != Identity.None) stackPush(tailIndex, keyOf(row), tr)

      case Append(row, lsn, Some(xid)) =>
        val x = xacts.getOrElseUpdate(xid, new XactState)
        val tr = new TailRow(row, lsn)
        x.buffer += tr
        if (identity != Identity.None) stackPush(x.index, keyOf(row), tr)
        if (x.buffer.length >= config.memSliceSize) stageXactFlush(xid, x)

      case Delete(key, lsn, scala.None, _) =>
        require(identity != Identity.None,
          "deletes rejected on append-only table") // mooncake_table.rs:1242
        if (!stackMark(tailIndex, KeyVal(key), lsn))
          pendingDeletes += ((key, lsn))

      case Delete(key, _, Some(xid), _) =>
        val x = xacts.getOrElseUpdate(xid, new XactState)
        if (!stackMark(x.index, KeyVal(key), 0L)) // dead within the txn
          x.pendingDeletes += key

      case Commit(lsn, scala.None) =>
        commitLsnVar = math.max(commitLsnVar, lsn)
        maybeFlush()

      case Commit(lsn, Some(xid)) => commitXact(xid, lsn)

      case StreamAbort(xid) => abortXact(xid)

      // In-stream schema evolution (the reference's mid-stream
      // AlterTable from a changed Relation message,
      // moonlink_sink.rs:347-361). Idempotent on replay: an alter
      // publishes its schema immediately, so a WAL-replayed alter may
      // already be reflected in the manifest.
      case AlterAdd(cols, _) =>
        cols.filter { case (n, _) => !schemaVar.fieldNames.contains(n) }
          .foreach { case (n, t) => alterAddColumn(n, t) }

      case AlterDrop(cols, _) =>
        val present = cols.filter(schemaVar.fieldNames.contains)
        if (present.nonEmpty) alterDropColumns(present)
    }
  }

  // trigger on TOTAL buffered rows (incl. tombstones), not live rows:
  // an upsert-heavy stream tombstones most of the tail and a live-only
  // count would let the buffer grow without bound (reference counts
  // mem-slice rows the same way, mooncake_table.rs:858)
  private def maybeFlush(): Unit =
    if (tail.length >= config.memSliceSize) flush()

  /** Convenience ingest API (REST surface, reference `rest_api.rs:416`):
   *  insert rows with consecutive LSNs and auto-commit. */
  def insertAll(rows: Seq[Row], startLsn: Long): Long =
    apply(rows.zipWithIndex.map { case (r, i) => Append(r, startLsn + i) } :+
      Commit(startLsn + rows.size))

  def upsertAll(rows: Seq[Row], startLsn: Long): Long =
    apply(rows.zipWithIndex.flatMap { case (r, i) =>
      CdcEvent.upsert(r, keyOf(r).values, startLsn + i)
    } :+ Commit(startLsn + rows.size))

  // =====================================================================
  // Executor-side batch ingest: the whole micro-batch stays distributed.
  // =====================================================================

  /**
   * Apply a micro-batch of CDC event rows WITHOUT collecting them to the
   * driver — the scale path for high-volume ingest (the reference's
   * row→Arrow batching + background flush, `column_array_builder.rs`,
   * `mooncake_table.rs:1317`, re-expressed as Spark jobs).
   *
   * Input frame columns: `_op` (i|insert / u|upsert / d|delete), `_lsn`
   * (long, unique per event), then the table's data columns (delete rows
   * carry the key columns; other columns ignored). Commit/abort/xact
   * events are NOT accepted here — `CdcPipeline.applyBatch` routes
   * batches containing them to the driver event path.
   *
   * Semantics match `apply()` exactly: events fold per key in LSN order
   * (delete kills the latest in-batch append of its key, else falls
   * through to the committed table, resolved LSN-exactly via the key
   * index); the batch commits atomically at `maxLsn`. Because every
   * surviving row is flushed before the manifest commit, flushLsn ==
   * commitLsn and the WAL is unnecessary on this path.
   *
   * Execution shape per batch, independent of row count:
   *   1 shuffle (repartition by key + per-partition key/LSN sort) into
   *   1 write job — the ONLY pass over the batch's data. The key index,
   *   per-file stats and fall-through delete keys all derive from the
   *   persisted fold output (partition i <-> part-file i), so freshly
   *   written parquet is never read back (the reference likewise builds
   *   its file index while writing, `disk_slice.rs`): 2 cheap cached
   *   passes (index write, per-partition stats collect) plus 1 small
   *   collect (fall-through delete keys — bounded by the batch's delete
   *   count, never by its row count).
   *
   * `estRows` (event count, if the caller knows it) sizes the output:
   * O(estRows / rowsPerFile) data files per batch, like the driver
   * path's size-tuned flush — not one tiny file per shuffle partition.
   */
  def applyBatchDF(events: DataFrame, maxLsn: Long,
      hasDeletes: Boolean, estRows: Long = -1L): Long = synchronized {
    prof("entry flush")(flush()) // drain any driver-path tail so file order stays LSN-ordered
    val dataCols = schemaVar.fieldNames.toSeq
    val est = if (estRows >= 0L) estRows else events.count()
    Metrics.counter("graft.rows_ingested", root, est)
    Metrics.counter("graft.commits", root)
    // fold/write parallelism doubles as the output FILE count (the
    // positional index derives from partition ids). Size-tuned files
    // want est/rowsPerFile partitions, but that starves cores on big
    // batches (a 10M-row initial load folded in 10 tasks on 32 cores);
    // widen toward the core count as long as every produced file stays
    // ABOVE the small-file threshold, so faster ingest never feeds the
    // compactor (measured 9.2 s -> 7.1 s on the 10M-row probe).
    val nOut = {
      val sized = math.max(1L,
        (est + config.rowsPerFile - 1) / config.rowsPerFile)
      val notSmall = math.max(sized,
        est / math.max(1L, config.compactSmallFileRows))
      val cores = spark.sparkContext.defaultParallelism.toLong
      math.min(notSmall, math.max(sized, cores)).toInt
    }
    // a bucketed layout (optimize(bucketBy)) is maintained by every
    // SUBSTANTIAL distributed write: the batch routes through the
    // bucket partitioner instead of a narrow pack, so the scan keeps
    // reporting KeyGroupedPartitioning under continuous CDC.
    // Micro-batches below the per-bucket floor write unbucketed (see
    // bucketRouteMinRowsPerBucket) — compaction re-buckets them.
    val bucketRoute = bucketNVar > 0 && keyCols.nonEmpty &&
      est >= bucketNVar * config.bucketRouteMinRowsPerBucket
    val bSplit =
      if (bucketRoute) bucketSplits(est, bucketNVar.toInt) else 0
    if (!hasDeletes) {
      val survivors0 = events
        .where(col("_op").isin("i", "insert", "u", "upsert"))
        .select(dataCols.map(col) :+ col("_lsn").cast("long").as("_lsn"): _*)
      val survivors =
        (if (bucketRoute) routeToBuckets(survivors0, bucketNVar.toInt, bSplit)
         else survivors0.coalesce(nOut)) // merge-only, keeps the path shuffle-free
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try prof("writeBatchFiles(ins)")(
        writeBatchFiles(survivors, maxLsn, bucketSplit = bSplit))
      finally survivors.unpersist()
    } else {
      require(identity != Identity.None,
        "deletes rejected on append-only table") // mooncake_table.rs:1242
      val keyColNames = keyFields.map(_.name)
      // DECLARATIVE fold — the per-key LSN state machine
      // (`GraftTable.foldBatchPartition`, kept as the test oracle)
      // collapses to two window functions, so the batch's one data pass
      // stays inside Tungsten instead of round-tripping every row
      // through the external-Row codec (measured 2.3 s -> ~0.8 s for
      // the 1M-event probe at local[32]):
      //  - an append-half SURVIVES iff the key's next event is an
      //    insert (which shadow-emits it) or absent (it ends the key);
      //    any following u/d kills the latest live append first;
      //  - a delete-half FALLS THROUGH to the committed table iff no
      //    append-half of its key precedes it: every leading pure `d`
      //    (running min-append-LSN still null), plus the delete-half of
      //    the key's FIRST append event when that event is an upsert
      //    (running min == its own LSN). After the first append, a
      //    delete either finds a live append to kill or lands in the
      //    killed-state (`curDead`) where re-deliveries no-op.
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(keyColNames.map(col): _*).orderBy(col("_lsn"))
      val wRun = wOrd.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      val opN = when(col("_op").isin("i", "insert"), "i")
        .when(col("_op").isin("u", "upsert"), "u").otherwise("d")
      // repartition(foldP, keys) satisfies the windows' clustering
      // requirement, so the fold still costs exactly ONE exchange.
      // foldP decouples FOLD parallelism from the OUTPUT file count:
      // a 1M-row batch size-tunes to nOut=1 file, and running the
      // sort+windows in one task was the measured ingest bottleneck
      // (~3 s of the 5 s probe); folding wide and packing afterwards
      // with a NARROW coalesce over the persisted fold output keeps
      // file sizing AND parallelism (and coalesce over a persisted
      // frame preserves the deterministic partition order the
      // positional index derivation depends on — a reshuffle here
      // would not). Width scales with the batch (~32k rows/task,
      // capped at the core count) so TINY batches keep the single-task
      // shape instead of paying 32 tasks of scheduling for 15k rows
      // (the r10 idle-bench regression on the small-batch cdc entries).
      val foldP = math.max(nOut, math.min(
        spark.sparkContext.defaultParallelism.toLong,
        (est + 32767) / 32768).toInt)
      // the survivor half needs only `lead`; `_minApp`/`_fall` (the
      // fall-through-delete detector) is added ONLY on the slow path so
      // the first-batch fast fold below runs one window function, not
      // two (the running-min pass over every fold partition is pure
      // waste when an empty pre-batch index proves no fall-through)
      val taggedSurv = events
        .where(col("_op").isin("i", "insert", "u", "upsert", "d", "delete"))
        .select(opN.as("_op") +:
          col("_lsn").cast("long").as("_lsn") +: dataCols.map(col): _*)
        .repartition(foldP, keyColNames.map(col): _*)
        .withColumn("_nextOp", lead(col("_op"), 1).over(wOrd))
        .withColumn("_surv", col("_op") =!= "d" &&
          (col("_nextOp").isNull || col("_nextOp") === "i"))
      lazy val tagged = taggedSurv
        .withColumn("_minApp",
          min(when(col("_op") =!= "d", col("_lsn"))).over(wRun))
        .withColumn("_fall",
          (col("_op") === "d" && col("_minApp").isNull) ||
          (col("_op") === "u" && col("_minApp") === col("_lsn")))
      // FIRST-BATCH FAST FOLD: the leading flush() indexed any committed
      // tail, so an EMPTY pre-batch index proves no fall-through delete
      // can land (a fall-through targets a row committed strictly before
      // this batch). The fold then needs only the survivor half — no
      // delete-struct explode (which would cache 2x the rows on a
      // distinct-key upsert stream, the initial-load shape), no nDel
      // count pass, no resolution. In-batch semantics (later upsert
      // kills earlier append, deletes kill in-batch appends) still run
      // through the same windows.
      if (indexFiles.isEmpty) {
        val surv0View = taggedSurv.where(col("_surv"))
          .select(dataCols.map(col) :+ col("_lsn"): _*)
        val survivors0 =
          (if (bucketRoute) routeToBuckets(surv0View, bucketNVar.toInt, bSplit)
           else surv0View)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val survivors =
            if (bucketRoute || foldP == nOut) survivors0
            else {
              // materialize the cache at FOLD width before the narrow
              // coalesce — otherwise the first action (the data write)
              // would run the whole shuffle+window fold inside nOut
              // tasks, giving the windows' parallelism back
              prof("fold+persist")(survivors0.count())
              survivors0.coalesce(nOut)
            }
          // stats fuse into writeBatchFiles' key-index pass (keyed table)
          prof("writeBatchFiles(fast)")(
            writeBatchFiles(survivors, maxLsn, bucketSplit = bSplit))
        } finally survivors0.unpersist()
        prof("maybeMergeIndexes")(maybeMergeIndexes())
        commitLsnVar = math.max(commitLsnVar, maxLsn)
        flushLsnVar = math.max(flushLsnVar, maxLsn)
        prof("publish")(publish())
        return commitLsnVar
      }
      // collapse to the FOLD OUTPUT before caching: survivors + fall-
      // through deletes only (a dual-role upsert emits both), so the
      // cache holds O(keys + deletes) rows, never the raw batch. The
      // explode is a narrow Generate: partition ids and the (key, lsn)
      // sort order survive into every downstream pass — the positional
      // invariant writeBatchFiles' index derivation depends on.
      val keySet = keyColNames.toSet
      val outA = struct(lit("a").as("_tag") +: col("_lsn").as("_lsn") +:
        schemaVar.fields.toSeq.map(f => col(f.name).as(f.name)): _*)
      val outD = struct(lit("d").as("_tag") +: col("_lsn").as("_lsn") +:
        schemaVar.fields.toSeq.map(f =>
          (if (keySet(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
      def maybe(cond: org.apache.spark.sql.Column,
          s: org.apache.spark.sql.Column) =
        when(cond, array(s)).otherwise(slice(array(s), 1, 0))
      val folded = tagged
        .select(explode(concat(
          maybe(col("_surv"), outA), maybe(col("_fall"), outD))).as("_r"))
        .select(col("_r._tag").as("_tag") +: col("_r._lsn").as("_lsn") +:
          dataCols.map(c => col(s"_r.$c").as(c)): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keyPos = keyColNames.map(schemaVar.fieldIndex).toArray
      // the bucket route persists a second frame; released in finally
      var routedCache: Option[DataFrame] = scala.None
      try {
        // packed for writing: when the fold ran WIDER than the output
        // file count, a narrow coalesce over the persisted fold output
        // merges whole partitions in deterministic order — file sizing
        // without giving the windows' parallelism back. The fused
        // per-partition stats are only partition-aligned when no
        // packing happened; otherwise writeBatchFiles runs its own
        // narrow stats pass over the packed frame.
        val aligned = !bucketRoute && foldP == nOut
        val survivors = {
          val s0 = folded.where(col("_tag") === "a")
            .select(dataCols.map(col) :+ col("_lsn"): _*)
          if (bucketRoute) {
            // persisted: the route is a shuffle, and the two concurrent
            // writeBatchFiles jobs must observe ONE row order per
            // partition (the sorted route makes recompute deterministic;
            // the cache avoids paying the sort twice)
            val r = routeToBuckets(s0, bucketNVar.toInt, bSplit)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            routedCache = Some(r)
            r
          } else if (aligned) s0 else s0.coalesce(nOut)
        }
        val statFields = schemaVar.fields.zipWithIndex
          .filter { case (f, _) => statsComparable(f.dataType) }.toSeq
        // cheap cached scan decides the resolution path BEFORE any
        // delete key can reach the driver (this count also materializes
        // the fold shuffle + persist — the batch's one data pass)
        val nDel = prof("fold+persist+nDel")(
          folded.where(col("_tag") =!= "a").count())
        def fusedStats(): Option[Map[Int, PartFileStats]] =
          if (!aligned) scala.None
          else Some(prof("stats")(collectFoldOutputs(folded, statFields,
            keyPos, shipDeletes = false))._1)
        // (the indexFiles.isEmpty shape took the fast fold above and
        // never reaches here)
        if (nDel < config.distributedDeleteThreshold) {
          // ONE pass over the cached fold output collects BOTH the
          // per-partition survivor stats and the fall-through delete keys
          // (formerly two jobs). Delete volume stays bounded by the
          // batch's delete count, never its row count.
          val (partStats, dels) = prof("stats+deletes")(
            collectFoldOutputs(folded, statFields, keyPos))
          prof("writeBatchFiles(del)")(
            writeBatchFiles(survivors, maxLsn,
              if (aligned) Some(partStats) else scala.None,
              bucketSplit = bSplit))
          dels.foreach { case (k, lsn) => pendingDeletes += ((k, lsn)) }
        } else {
          // scale path (purge-style batches): delete keys NEVER
          // materialize on the driver — stats collect skips them and
          // resolution runs as a distributed join writing a per-file
          // roaring DV delta (reference resolves against its persisted
          // bucket hash map the same LSN-exact way,
          // `persisted_bucket_hash_map.rs:276`)
          prof("writeBatchFiles(del)")(
            writeBatchFiles(survivors, maxLsn, fusedStats(),
              bucketSplit = bSplit))
          prof("resolveDeletesDistributed")(resolveDeletesDistributed(
            folded.where(col("_tag") =!= "a")
              .select(keyColNames.map(col) :+ col("_lsn").as("_dlsn"): _*)))
        }
      } finally {
        routedCache.foreach(_.unpersist())
        folded.unpersist()
      }
    }
    maybeMergeIndexes()
    commitLsnVar = math.max(commitLsnVar, maxLsn)
    flushLsnVar = math.max(flushLsnVar, maxLsn)
    publish()
    commitLsnVar
  }

  /** Route a batch frame onto the table's bucketed layout: one ordinary
   *  `repartition(n*splits, proxy)` whose proxy longs make partition
   *  index == bucket*splits + split, so the per-partition parquet write
   *  emits single-bucket files and ongoing distributed ingest KEEPS
   *  storage-partitioned joins alive after an `optimize(bucketBy = n)`.
   *  `splits > 1` keeps FILE sizing on big batches (SPJ only needs each
   *  file single-bucket, never one file per bucket — the scan's
   *  key-grouping coalesces same-bucket files); the split index is a
   *  second independent hash of the keys (murmur3 vs the bucket's
   *  xxhash64), so it is deterministic and spread. Key columns are
   *  never remapped, so the logical-name hash matches the physical
   *  `bucketExpr`. Costs the batch one extra exchange — the price of
   *  maintaining the layout, paid where the reference pays it too
   *  (hash-bucketed index files, `persisted_bucket_hash_map.rs`). */
  private def routeToBuckets(df: DataFrame, n: Int, splits: Int = 1)
      : DataFrame = {
    val m = n * math.max(1, splits)
    val proxies = bucketProxies(m)
    val bexpr = pmod(xxhash64(keyCols.map(col): _*), lit(n.toLong))
    val target =
      if (splits <= 1) bexpr
      else bexpr * splits + pmod(hash(keyCols.map(col): _*), lit(splits))
    // sortWithinPartitions pins a TOTAL deterministic row order: the
    // data write and the concurrent key-index job must observe the
    // same order even if a cached block is lost and recomputed, and a
    // bare hash-shuffle's reduce-side arrival order is not
    // deterministic across recomputations on a cluster. (key, _lsn) is
    // unique per distinct event; identical redelivered rows tie
    // harmlessly. Bonus: bucket files come out key-clustered.
    val sortCols = keyCols.map(col) ++
      (if (df.columns.contains("_lsn")) Seq(col("_lsn")) else Nil)
    df.withColumn("_gb",
        element_at(typedlit(proxies), (target + 1L).cast("int")))
      .repartition(m, col("_gb"))
      .sortWithinPartitions(sortCols: _*)
      .drop("_gb")
  }

  /** Split factor for a bucketed write of ~`rows` rows: enough that no
   *  single-bucket file expects more than rowsPerFile rows. */
  private def bucketSplits(rows: Long, n: Int): Int = math.max(1L,
    (rows / math.max(1, n) + config.rowsPerFile - 1) / config.rowsPerFile)
    .toInt

  /** Write a distributed survivors frame (data columns + `_lsn`) as
   *  data files and register the key index + per-file stats WITHOUT
   *  re-reading what was just written: part-file numbers correspond 1:1
   *  to the frame's partition ids, so the index (key, file, pos, lsn)
   *  and the stats derive from cheap passes over the caller-persisted
   *  frame — the cluster-side analogue of `writeRowChunks` +
   *  `writeIndexFromRows` (the reference builds its file index while
   *  writing for the same reason, `disk_slice.rs`). With `bucketSplit
   *  >= 1` the caller routed the frame through `routeToBuckets` with
   *  that split factor, so partition id / split IS the storage bucket
   *  id and each new file records it. */
  private def writeBatchFiles(survivors: DataFrame, maxLsn: Long,
      precomputedStats: Option[Map[Int, PartFileStats]]
        = scala.None, bucketSplit: Int = 0): Unit = {
    val tmp = s"$root/tmp/${UUID.randomUUID()}"
    val out = if (!hasColumnMapping) survivors
      else survivors.select(schemaVar.fields.toSeq.map(f =>
        col(f.name).as(SchemaDsl.physicalName(f))) :+ col("_lsn"): _*)
    val statFields = schemaVar.fields.zipWithIndex
      .filter { case (f, _) => statsComparable(f.dataType) }.toSeq
    // per-partition row counts + min/max per comparable column
    // (manifest pruning, reference `parquet_stats_utils.rs`): supplied
    // by the caller's fused fold-output pass when it ran one, FUSED
    // into the key-index pass below for keyed tables (one scan of the
    // persisted frame instead of two), or a dedicated narrow pass as
    // the append-only fallback
    val fusedAcc: Option[PartStatsAcc] =
      if (precomputedStats.isEmpty && identity != Identity.None) {
        val acc = new PartStatsAcc
        spark.sparkContext.register(acc, "graft.flush.partStats")
        Some(acc)
      } else scala.None
    // data-file names are pre-assigned PER PARTITION ID so the key-index
    // job below can launch CONCURRENTLY with the data write: both scan
    // the same persisted frame (the BlockManager computes each cached
    // block exactly once; the second reader blocks on the block lock),
    // and the index rows reference the name partition i's part-file
    // WILL get — on a real cluster the two jobs overlap executor use,
    // at local[32] they overlap the two single-task writes of a
    // size-tuned batch. Names for partitions that turn out empty are
    // simply never used (a partition with no rows writes no file).
    val nParts = survivors.rdd.getNumPartitions
    val preNames: Map[Int, String] =
      (0 until nParts).map(i => i -> f"data-${newId()}%09d.parquet").toMap
    // cached pass: the key index — positions are partition row
    // order, exactly what the data write persists
    val idxFut: scala.concurrent.Future[Option[String]] =
      if (identity == Identity.None) scala.concurrent.Future.successful(scala.None)
      else {
        Fio.mkdirs(s"$root/index")
        val kIdx = keyFields.map(f => schemaVar.fieldIndex(f.name))
        val lsnPos = schemaVar.fields.length
        val fileOfPid = preNames // local: closure must not capture `this`
        val statIdxs = statFields.map(_._2).toArray
        val statOrds = statFields.map { case (f, _) => anyOrdering(f.dataType) }
        val sumMks = statFields.map { case (f, _) =>
          GraftTable.statSummer(f.dataType).orNull }.toArray
        val vcMks = statFields.map { case (f, _) =>
          GraftTable.valueCounterMk(f.dataType).orNull }.toArray
        val accOpt = fusedAcc
        val idxRdd = survivors.rdd.mapPartitionsWithIndex { (pid, it) =>
          val fname = fileOfPid.getOrElse(pid, null)
          var pos = -1L
          val mins = Array.fill[Any](statIdxs.length)(null)
          val maxs = Array.fill[Any](statIdxs.length)(null)
          val nulls = Array.fill[Long](statIdxs.length)(0L)
          val sums: Array[GraftTable.StatSummer] =
            sumMks.map(m => if (m == null) null else m())
          val vcs: Array[GraftTable.ValueCounter] =
            vcMks.map(m => if (m == null) null else m())
          val rows = it.map { r =>
            pos += 1
            if (accOpt.isDefined) {
              var j = 0
              while (j < statIdxs.length) {
                val v = r.get(statIdxs(j))
                if (v != null) {
                  if (mins(j) == null || statOrds(j).lt(v, mins(j))) mins(j) = v
                  if (maxs(j) == null || statOrds(j).gt(v, maxs(j))) maxs(j) = v
                  if (sums(j) != null) sums(j).add(v)
                  if (vcs(j) != null) vcs(j).add(v)
                } else nulls(j) += 1
                j += 1
              }
            }
            Row.fromSeq(kIdx.map(r.get) :+ fname :+ pos :+ r.getLong(lsnPos))
          }
          // the by-name ++ operand evaluates after `rows` exhausts: the
          // partition's final (count, min, max, nulls, sums) lands exactly
          // once per pid — last-write-wins keying makes retries/speculation
          // idempotent (identical deterministic content per pid)
          rows ++ {
            accOpt.foreach(_.add((pid, pos + 1, mins.toSeq, maxs.toSeq,
              nulls.toSeq,
              sums.toSeq.map(s => if (s == null) null else s.render),
              vcs.toSeq.map(c => if (c == null) null else c.render))))
            Iterator.empty
          }
        }
        val itmp = s"$root/tmp/${UUID.randomUUID()}"
        val df = spark.createDataFrame(idxRdd, indexSchema)
        scala.concurrent.Future {
          df.write.mode("overwrite").parquet(itmp)
          Some(itmp)
        }(scala.concurrent.ExecutionContext.global)
      }
    try prof("  data write")(out.write.mode("overwrite").parquet(tmp))
    catch { case e: Throwable =>
      // the index job must not outlive a failed write: settle it, then
      // surface the data-write failure
      try scala.concurrent.Await.ready(idxFut,
        scala.concurrent.duration.Duration.Inf)
      catch { case _: Throwable => () }
      throw e
    }
    val itmpOpt = prof("  index await")(scala.concurrent.Await.result(
      idxFut, scala.concurrent.duration.Duration.Inf))
    val parts = Fio.list(tmp)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    if (parts.isEmpty) {
      Fio.delete(tmp); itmpOpt.foreach(Fio.delete); return
    }
    Fio.mkdirs(s"$root/data")
    // part-00042-<uuid>.parquet was written by task/partition 42 with
    // rows in partition iteration order — the positional invariant DVs
    // depend on; a partition with no rows writes no file
    val pidToName: Map[Int, String] = parts.sorted.map { p =>
      val pid = p.stripPrefix("part-").takeWhile(_.isDigit).toInt
      // a 0-partition frame (e.g. a no-op deleteWhere) still writes one
      // empty schema-bearing part file whose pid has no pre-assigned
      // name; the 0-row entry is dropped by the partStats cleanup below
      val name = preNames.getOrElse(pid, f"data-${newId()}%09d.parquet")
      Fio.move(s"$tmp/$p", s"$root/data/$name")
      pid -> name
    }.toMap
    Fio.delete(tmp)
    itmpOpt.foreach { itmp =>
      val iparts = Fio.list(itmp)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
      val inames = iparts.map { p =>
        val iname = f"idx-${newId()}%09d.parquet"
        Fio.move(s"$itmp/$p", s"$root/index/$iname")
        iname
      }
      Fio.delete(itmp)
      val allNames = pidToName.values.toSeq
      inames.foreach(n => indexFiles += IndexFileEntry(n, allNames))
    }
    val partStats = precomputedStats
      .orElse(fusedAcc.map(acc => acc.value.map {
        case (pid, (n, mins, maxs, nulls, sums, vcs)) =>
          pid -> partFileStats(statFields, n, mins, maxs, nulls, sums, vcs)
      }))
      .getOrElse(prof("  stats pass")(
        collectPartitionStats(survivors, statFields)))
    pidToName.foreach { case (pid, n) =>
      partStats.get(pid).filter(_.rows > 0L) match {
        case Some(ps) =>
          fileEntries(n) = DataFileEntry(n, ps.rows,
            Fio.sizeOf(s"$root/data/$n"), maxLsn, 0L, ps.stats,
            bucket = if (bucketSplit >= 1) (pid / bucketSplit).toLong else -1L,
            nullStats = ps.nulls, sumStats = ps.sums,
            exactBounds = ps.exact, valueStats = ps.values)
        case scala.None => Fio.delete(s"$root/data/$n")
      }
    }
  }

  /** One narrow pass over the (persisted) survivors frame: per-partition
   *  row count + min/max per stats column. The driver receives one tiny
   *  tuple per partition, never rows. */
  private def collectPartitionStats(survivors: DataFrame,
      statFields: Seq[(StructField, Int)])
      : Map[Int, PartFileStats] = {
    val ords = statFields.map { case (f, _) => anyOrdering(f.dataType) }
    val idxs = statFields.map(_._2).toArray
    val sumMks = statFields.map { case (f, _) =>
      GraftTable.statSummer(f.dataType).orNull }.toArray
    val vcMks = statFields.map { case (f, _) =>
      GraftTable.valueCounterMk(f.dataType).orNull }.toArray
    survivors.rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L
      val mins = Array.fill[Any](idxs.length)(null)
      val maxs = Array.fill[Any](idxs.length)(null)
      val nulls = Array.fill[Long](idxs.length)(0L)
      val sums: Array[GraftTable.StatSummer] =
        sumMks.map(m => if (m == null) null else m())
      val vcs: Array[GraftTable.ValueCounter] =
        vcMks.map(m => if (m == null) null else m())
      it.foreach { r =>
        n += 1
        var j = 0
        while (j < idxs.length) {
          val v = r.get(idxs(j))
          if (v != null) {
            if (mins(j) == null || ords(j).lt(v, mins(j))) mins(j) = v
            if (maxs(j) == null || ords(j).gt(v, maxs(j))) maxs(j) = v
            if (sums(j) != null) sums(j).add(v)
            if (vcs(j) != null) vcs(j).add(v)
          } else nulls(j) += 1
          j += 1
        }
      }
      Iterator.single((pid, n, mins.toSeq, maxs.toSeq, nulls.toSeq,
        sums.toSeq.map(s => if (s == null) null else s.render),
        vcs.toSeq.map(c => if (c == null) null else c.render)))
    }.collect().map { case (pid, n, mins, maxs, nulls, sums, vcs) =>
      pid -> partFileStats(statFields, n, mins, maxs, nulls, sums, vcs)
    }.toMap
  }

  /** One pass over the cached fold output (row layout: _tag, _lsn,
   *  data...): per-partition survivor counts + min/max stats AND the
   *  fall-through delete keys, fused so a delete-carrying batch pays a
   *  single collect job. Partition ids equal those of the survivors
   *  projection (narrow transforms preserve them), which is what
   *  `writeBatchFiles` keys its part-file stats on. */
  private def collectFoldOutputs(folded: DataFrame,
      statFields: Seq[(StructField, Int)], keyPos: Array[Int],
      shipDeletes: Boolean = true)
      : (Map[Int, PartFileStats], Seq[(Seq[Any], Long)]) = {
    val ords = statFields.map { case (f, _) => anyOrdering(f.dataType) }
    val idxs = statFields.map(_._2).toArray
    val sumMks = statFields.map { case (f, _) =>
      GraftTable.statSummer(f.dataType).orNull }.toArray
    val vcMks = statFields.map { case (f, _) =>
      GraftTable.valueCounterMk(f.dataType).orNull }.toArray
    val ship = shipDeletes // primitive capture: closure must not hold `this`
    val raw = folded.rdd.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L
      val mins = Array.fill[Any](idxs.length)(null)
      val maxs = Array.fill[Any](idxs.length)(null)
      val nulls = Array.fill[Long](idxs.length)(0L)
      val sums: Array[GraftTable.StatSummer] =
        sumMks.map(m => if (m == null) null else m())
      val vcs: Array[GraftTable.ValueCounter] =
        vcMks.map(m => if (m == null) null else m())
      val dels = mutable.ArrayBuffer[(Seq[Any], Long)]()
      it.foreach { r =>
        if (r.getString(0) == "a") {
          n += 1
          var j = 0
          while (j < idxs.length) {
            val v = r.get(2 + idxs(j))
            if (v != null) {
              if (mins(j) == null || ords(j).lt(v, mins(j))) mins(j) = v
              if (maxs(j) == null || ords(j).gt(v, maxs(j))) maxs(j) = v
              if (sums(j) != null) sums(j).add(v)
              if (vcs(j) != null) vcs(j).add(v)
            } else nulls(j) += 1
            j += 1
          }
        } else if (ship) {
          dels += ((keyPos.toSeq.map(i => r.get(2 + i)), r.getLong(1)))
        }
      }
      Iterator.single(
        (pid, n, mins.toSeq, maxs.toSeq, nulls.toSeq,
          sums.toSeq.map(s => if (s == null) null else s.render),
          vcs.toSeq.map(c => if (c == null) null else c.render), dels.toSeq))
    }.collect()
    val stats = raw.map { case (pid, n, mins, maxs, nulls, sums, vcs, _) =>
      pid -> partFileStats(statFields, n, mins, maxs, nulls, sums, vcs)
    }.toMap
    (stats, raw.toSeq.flatMap(_._8))
  }

  /** Block until all mutations at-or-below `lsn` are durably flushed to
   *  parquet (flushLsn >= lsn) — the sync REST-ingest LSN ack (reference
   *  `rest_api.rs:1043-1129`); `readAwait` covers commit visibility,
   *  this covers durability. A concurrent thread drives apply()/flush().
   *  Returns false on timeout. */
  def awaitPersisted(lsn: Long, timeoutMs: Long = 10000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (flushLsnVar < lsn && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
    flushLsnVar >= lsn
  }

  // ---- streaming transactions -----------------------------------------

  /** Pre-commit flush of a large streaming txn into *staged* files,
   *  invisible to the manifest until StreamCommit (reference
   *  `transaction_stream.rs:171,334` — abort must drop flushed files). */
  private def stageXactFlush(xid: Long, x: XactState): Unit = {
    val rows = x.buffer.filter(_.live).map(_.row).toSeq
    x.buffer.clear(); x.index.clear()
    if (rows.isEmpty) return
    val stagedDir = s"$root/staged/xact-$xid"
    Fio.mkdirs(stagedDir)
    val chunks = chunkRowsForWrite(rows, rows.map(_ => -1L))
    val entries = writeRowChunks(chunks, stagedDir, maxLsn = -1L)
    x.stagedFiles ++= entries
    if (identity != Identity.None)
      // staged rows get _lsn = -1: they become visible at the commit
      // LSN, and any delete that may target them (the xact's own
      // deferred deletes, or later events) carries a real LSN > -1
      x.stagedIndexFiles += writeIndexFromRows(chunks, entries, stagedDir)
  }

  private def commitXact(xid: Long, lsn: Long): Unit = {
    xacts.remove(xid).foreach { x =>
      // staged files become real data files at the commit LSN
      if (x.stagedFiles.nonEmpty) {
        x.stagedFiles.foreach { e =>
          Fio.move(s"$root/staged/xact-$xid/${e.path}", s"$root/data/${e.path}")
          fileEntries(e.path) = e.copy(maxLsn = lsn)
        }
        x.stagedIndexFiles.foreach { ie =>
          Fio.mkdirs(s"$root/index")
          Fio.move(s"$root/staged/xact-$xid/${ie.path}", s"$root/index/${ie.path}")
          indexFiles += ie
        }
        maybeMergeIndexes()
        flushLsnVar = math.max(flushLsnVar, lsn)
        Fio.delete(s"$root/staged/xact-$xid")
      }
      // deletes that found no target inside the txn hit the main table;
      // resolve BEFORE appending the txn's own rows so an upsert inside
      // the txn cannot delete its replacement row
      x.pendingDeletes.foreach { key =>
        if (!stackMark(tailIndex, KeyVal(key), lsn))
          pendingDeletes += ((key, lsn))
      }
      // buffered rows join the main tail carrying the commit LSN (all
      // rows of a txn carry its final LSN, moonlink_sink.rs:152-181)
      x.buffer.foreach { tr =>
        if (tr.live) {
          val ntr = new TailRow(tr.row, lsn)
          tail += ntr
          if (identity != Identity.None) stackPush(tailIndex, keyOf(tr.row), ntr)
        }
      }
      commitLsnVar = math.max(commitLsnVar, lsn)
      maybeFlush()
    }
  }

  private def abortXact(xid: Long): Unit =
    xacts.remove(xid).foreach { _ => Fio.delete(s"$root/staged/xact-$xid") }

  // =====================================================================
  // Flush (M7): mem slice -> size-tuned parquet + key index
  // =====================================================================

  /** Flush committed-visible tail rows to parquet data files
   *  (reference `mooncake_table.rs:1317`, `disk_slice.rs`). */
  def flush(): Unit = synchronized { Metrics.time("graft.persistence_latency", root) {
    // committed rows whose delete (if any) is not yet committed
    val flushable = tail.filter(t =>
      t.lsn <= commitLsnVar && (t.live || t.deletedLsn > commitLsnVar))
    if (flushable.nonEmpty) {
      val maxLsn = flushable.map(_.lsn).max
      Fio.mkdirs(s"$root/data")
      val chunks = chunkRowsForWrite(
        flushable.map(_.row).toSeq, flushable.map(_.lsn).toSeq)
      val entries = writeRowChunks(chunks, s"$root/data", maxLsn)
      entries.foreach(e => fileEntries(e.path) = e)
      if (identity != Identity.None) {
        Fio.mkdirs(s"$root/index")
        // positions are the write order the driver just produced — the
        // index is built directly, no read-back scan; per-row LSNs make
        // delete resolution LSN-exact (a delete only targets rows that
        // existed strictly before it)
        indexFiles += writeIndexFromRows(chunks, entries, s"$root/index")
        maybeMergeIndexes()
      }
      // a committed row with a pending (uncommitted) delete was just
      // written to disk — its delete must later resolve via the index
      flushable.filter(!_.live).foreach(t =>
        pendingDeletes += ((keyOf(t.row).values, t.deletedLsn)))
      flushLsnVar = math.max(flushLsnVar, maxLsn)
    }
    // keep only uncommitted appends (live or tombstoned within-batch)
    val keep = tail.filter(t => t.lsn > commitLsnVar)
    tail.clear(); tail ++= keep
    stackRetain(tailIndex)(tr => tr.lsn > commitLsnVar)
  }}

  /** Per-bucket proxy longs for routing a bucketed write through an
   *  ordinary `repartition(n, col)`: `repartition` sends a row to
   *  partition pmod(murmur3(e), n) — NOT to the value of e — so feeding
   *  it a proxy long with murmur3(proxy) % n == bucket makes partition
   *  index == bucket id and the whole pass stays codegen'd (no RDD
   *  partitioner detour). Proxy search is O(n) driver arithmetic. */
  private def bucketProxies(n: Int): Seq[Long] =
    GraftTable.proxyCache.getOrElseUpdate(n, (0 until n).map { bkt =>
      Iterator.from(0).map(_.toLong).find(v => java.lang.Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
          .toLong, n.toLong) == bkt.toLong).get
    })

  /** Driver-side evaluator of the storage bucket function —
   *  pmod(xxhash64(key cols), n) — on the shared `keyHashEval`, so a
   *  driver-flushed row lands in exactly the bucket the scan's
   *  KeyGroupedPartitioning reports. Key columns are never remapped, so
   *  logical positions are exact. */
  private[graft] def rowBucketEval(n: Long): Row => Long = {
    val kIdxs = keyCols.map(schemaVar.fieldIndex)
    val hash = keyHashEval(kIdxs.map(schemaVar.fields(_)))
    (r: Row) => java.lang.Math.floorMod(hash(kIdxs.map(r.get)), n)
  }

  /** Deterministic chunking for driver-path writes: when the table
   *  carries a bucketed layout (`bucketN > 0`, set by
   *  `optimize(bucketBy)`), rows group by storage bucket — each chunk
   *  single-bucket, original row order preserved within a bucket — so
   *  ongoing flushes KEEP the layout (and storage-partitioned joins)
   *  alive instead of degrading the scan to UnknownPartitioning until
   *  the next full rewrite. Unbucketed tables keep plain rowsPerFile
   *  runs. The distributed path's per-bucket floor applies here too: a
   *  mem-slice that fans out across many buckets at only a few rows
   *  each (e.g. 4096 rows over a 1024-bucket layout → ~1000 tiny files
   *  PER FLUSH) is the exact small-file explosion
   *  bucketRouteMinRowsPerBucket exists to prevent — such a slice
   *  writes plain unbucketed chunks and escalated compaction re-buckets
   *  the tail. The gate is on the buckets actually HIT, so a small
   *  flush touching one bucket (one file either way) keeps the layout.
   *  Returns (rows+lsns chunk, bucket id or -1). */
  private def chunkRowsForWrite(rows: Seq[Row], lsns: Seq[Long])
      : Seq[(Seq[(Row, Long)], Long)] = {
    val paired = rows.zip(lsns)
    if (bucketNVar > 0 && keyCols.nonEmpty) {
      val be = rowBucketEval(bucketNVar)
      val groups = paired.groupBy(p => be(p._1)).toSeq.sortBy(_._1)
      val plainCount = (rows.size + config.rowsPerFile - 1) / config.rowsPerFile
      val explodes = groups.size > plainCount &&
        rows.size < groups.size.toLong * config.bucketRouteMinRowsPerBucket
      if (explodes) paired.grouped(config.rowsPerFile).map(c => (c, -1L)).toSeq
      else groups.flatMap {
        case (b, g) => g.grouped(config.rowsPerFile).map(c => (c, b)) }
    } else paired.grouped(config.rowsPerFile).map(c => (c, -1L)).toSeq
  }

  /** Write pre-chunked rows as single-task parquet files with stable row
   *  order — positions are the file row order, the invariant DVs depend
   *  on (the reference owns its writer for the same reason,
   *  `disk_slice.rs`). Bounded by the mem-slice size. */
  private def writeRowChunks(chunks: Seq[(Seq[(Row, Long)], Long)],
      destDir: String, maxLsn: Long): Seq[DataFileEntry] = {
    chunks.map { case (chunk, bkt) =>
      val chunkRows = chunk.map(_._1)
      val name = f"data-${newId()}%09d.parquet"
      val tmp = s"$root/tmp/${UUID.randomUUID()}"
      spark.createDataFrame(chunkRows.asJava, physicalSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      movePartFile(tmp, s"$destDir/$name")
      val (bounds, nulls, sums, exact, vals) = columnStats(chunkRows)
      DataFileEntry(name, chunk.size.toLong, Fio.sizeOf(s"$destDir/$name"),
        maxLsn, 0L, bounds, bucket = bkt, nullStats = nulls,
        sumStats = sums, exactBounds = exact, valueStats = vals)
    }
  }

  private def movePartFile(tmpDir: String, dest: String): Unit = {
    val part = Fio.list(tmpDir)
      .find(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file in $tmpDir"))
    Fio.move(s"$tmpDir/$part", dest)
    Fio.delete(tmpDir)
  }

  /** File-level min/max + null-count + integral-sum stats for manifest
   *  pruning and metadata-only aggregates (reference collects parquet
   *  stats into iceberg manifests, `parquet_stats_utils.rs`). */
  private def columnStats(rows: Seq[Row])
      : (Map[String, Seq[String]], Map[String, String], Map[String, String],
         Seq[String], Map[String, Map[String, String]]) = {
    val pairs = schemaVar.fields.zipWithIndex.collect {
      case (f, i) if statsComparable(f.dataType) =>
        val vs = rows.iterator.map(_.get(i)).filter(_ != null).toSeq
        val (bounds, exact) =
          if (vs.isEmpty) (f.name -> Seq.empty[String], scala.None)
          else {
            implicit val ord: Ordering[Any] = anyOrdering(f.dataType)
            val (b, ex) = statBoundsExact(f.dataType, vs.min, vs.max)
            (f.name -> b,
              if (ex && b.nonEmpty && f.dataType.isInstanceOf[StringType])
                Some(f.name) else scala.None)
          }
        val sum = GraftTable.statSummer(f.dataType).map { mk =>
          val s = mk(); vs.foreach(s.add); f.name -> s.render
        }
        val vals = GraftTable.valueCounterMk(f.dataType).flatMap { mk =>
          val c = mk(); vs.foreach(c.add)
          Option(c.render).map(f.name -> _)
        }
        (bounds, f.name -> (rows.size - vs.size).toString, sum, exact, vals)
    }
    (pairs.map(_._1).toMap, pairs.map(_._2).toMap,
      pairs.flatMap(_._3).toMap, pairs.flatMap(_._4).toSeq,
      pairs.flatMap(_._5).toMap)
  }

  /** Fast-path index writer for rows the driver already holds in write
   *  order: the key index (key cols, _file, _pos, _lsn) is derived from
   *  the SAME chunks writeRowChunks just wrote — no read-back job.
   *  `_lsn` is each row's append LSN. */
  private def writeIndexFromRows(chunks: Seq[(Seq[(Row, Long)], Long)],
      entries: Seq[DataFileEntry], indexDir: String): IndexFileEntry = {
    val name = f"idx-${newId()}%09d.parquet"
    val kf = keyFields
    val kIdx = kf.map(f => schemaVar.fieldIndex(f.name))
    val idxRows = chunks.iterator.zip(entries.iterator)
      .flatMap { case ((chunk, _), e) =>
        chunk.iterator.zipWithIndex.map { case ((r, lsn), pos) =>
          Row.fromSeq(kIdx.map(r.get) :+ e.path :+ pos.toLong :+ lsn)
        }
      }.toSeq
    val tmp = s"$root/tmp/${UUID.randomUUID()}"
    spark.createDataFrame(idxRows.asJava, indexSchema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    movePartFile(tmp, s"$indexDir/$name")
    IndexFileEntry(name, entries.map(_.path))
  }

  private def indexSchema: StructType = StructType(keyFields :+
    StructField("_file", StringType) :+ StructField("_pos", LongType) :+
    StructField("_lsn", LongType))

  /** Read index files under the pinned `indexSchema`: no footer
   *  schema-inference job, and a ranged file's extra `_kh` column is
   *  simply not read. Every index read goes through here. */
  private def readIndex(files: Seq[IndexFileEntry]): DataFrame =
    spark.read.schema(indexSchema)
      .parquet(files.map(e => s"$root/index/${e.path}"): _*)

  /** Build a persisted key index (key cols, _file, _pos) for the given
   *  data files by reading them back with metadata row indexes — the
   *  Spark-native `GlobalIndex` (`persisted_bucket_hash_map.rs:43`).
   *  Used where the driver does not hold the rows (compaction, bulk
   *  load, index merge). */
  private def buildIndex(dataDir: String, files: Seq[String],
      indexDir: String, lsnValue: Long): IndexFileEntry = {
    val name = f"idx-${newId()}%09d.parquet"
    val paths = files.map(f => s"$dataDir/$f")
    // key columns are never remapped, so selecting them by logical name
    // from a physical-schema read is exact
    val df = spark.read.schema(physicalSchema).parquet(paths: _*)
      .select(keyFields.map(f => col(f.name)) :+
        substring_index(col("_metadata.file_path"), "/", -1).as("_file") :+
        col("_metadata.row_index").as("_pos") :+
        lit(lsnValue).as("_lsn"): _*)
    val tmp = s"$root/tmp/${UUID.randomUUID()}"
    // single-file index per flush; merged by mergeIndexes()/compact()
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    movePartFile(tmp, s"$indexDir/$name")
    IndexFileEntry(name, files)
  }

  // =====================================================================
  // Delete resolution: delete keys -> key index rows -> DV positions.
  // =====================================================================

  /** (index files probed, index files total) of the last delete
   *  resolution — observability hook for specs asserting the khRange
   *  bucket pruning actually bounds IO. (-1,-1) until a resolution ran. */
  private[graft] var lastDeleteProbe: (Int, Int) = (-1, -1)

  private def resolveCommittedDeletes(): Unit = {
    val due = pendingDeletes.filter(_._2 <= commitLsnVar)
    if (due.isEmpty) return
    pendingDeletes.filterInPlace(_._2 > commitLsnVar)
    if (indexFiles.isEmpty) return // nothing flushed: deletes miss
    // one delete kills exactly ONE row — the newest live row of its key
    // appended strictly before it (the flushed analogue of stackPop; an
    // upsert's delete+append share an LSN and must not self-delete).
    // The due keys' xxhash64 (seed 42) is evaluated on the driver by
    // the same Catalyst expression a Spark job computes over the index
    // (`keyHashEval`). The hashes pick the probe files — a hash-ranged
    // (merged) index file is read only when its khRange covers a due
    // key, so a small delete set on a big table reads a handful of
    // index buckets (the coverage map the DSv2 point lookup uses) — and
    // filter the index scan to rows whose key hashes into the set. The
    // exact key match runs on the driver over those candidates, which
    // then replays the pops in LSN order: resolution is ONE Spark job,
    // and the candidate count is bounded by (#delete keys x key dup
    // factor + hash collisions), never table size.
    val keyHash = keyHashEval(keyFields)
    val hashes = due.iterator.map(_._1).distinct.map(keyHash).toSet
    val probeFiles = indexFiles.toSeq.filter(e => hashes.exists(e.coversHash))
    lastDeleteProbe = (probeFiles.size, indexFiles.size)
    if (probeFiles.isEmpty) return
    val kcols = keyFields.map(f => col(f.name))
    val nk = kcols.length
    val cands = readIndex(probeFiles)
      .where(xxhash64(kcols: _*).isInCollection(hashes))
      .select(kcols :+ col("_lsn") :+ col("_file") :+ col("_pos"): _*)
      .collect()
    val byKey = cands.toSeq
      .map(r => KeyVal((0 until nk).map(r.get)) ->
        ((r.getLong(nk), r.getString(nk + 1), r.getLong(nk + 2))))
      .groupMap(_._1)(_._2)
    // a key with a null component matches nothing: SQL key equality,
    // as an equi-join on the key columns would give (FullRow identity
    // admits nullable key columns)
    due.filterNot(_._1.contains(null))
      .groupMap(d => KeyVal(d._1))(_._2).foreach { case (k, dlsns) =>
      // newest (lsn, file, pos) first, DEAD ROWS INCLUDED: the delete
      // rule targets the newest row appended before the delete
      // regardless of liveness — if it is already DV'd the delete is a
      // duplicate/stale delivery (at-least-once CDC, WAL replay whose
      // DV effects were already durable) and must no-op, never pop an
      // older row (see stackMark)
      val rows = byKey.getOrElse(k, Nil)
        .filter { case (_, f, _) => fileEntries.contains(f) }
        .sorted.reverse.toList
      dlsns.distinct.sorted.foreach { dlsn =>
        rows.find(_._1 < dlsn).foreach { case (_, f, p) =>
          if (!dvMap.get(f).exists(_.contains(p))) {
            dvMap.getOrElseUpdate(f, new Roaring64Bitmap).addLong(p)
            newDvPairs += ((f, p))
            fileEntries(f) = fileEntries(f).copy(deletes = fileEntries(f).deletes + 1)
          }
        }
      }
    }
  }

  /**
   * Scale path for delete-heavy batches: resolve fall-through deletes
   * entirely as a Spark job. `delFrame` (key cols + `_dlsn`) joins the
   * key index on the key; each key's pop replay — newest row appended
   * strictly before each delete LSN, duplicate deliveries no-op — runs
   * in the executors with the SAME rule as `resolveCommittedDeletes`;
   * already-dead positions are subtracted by an anti-join against the
   * existing DV frame; and the surviving delta aggregates into one
   * roaring bitmap per affected data FILE before anything reaches the
   * driver. Driver traffic is bounded by file count, never delete
   * count. The sidecar is written here and committed by the caller's
   * publish(), exactly like the driver path (reference resolves via its
   * persisted bucket hash map, `persisted_bucket_hash_map.rs:276`).
   */
  private def resolveDeletesDistributed(delFrame: DataFrame): Unit = {
    if (indexFiles.isEmpty) return // nothing flushed: deletes miss
    val keyNames = keyFields.map(_.name).toSeq
    // Bucket pruning — the driver path's khRange coverage filter
    // (resolveCommittedDeletes above) at cluster scale: ranged index
    // generations are probed only when some due key's xxhash64 lands in
    // their [min,max] coverage. Instead of collecting the (possibly
    // huge) due-key hash set, ONE tiny aggregate over the delete frame
    // computes the set of covering file ordinals — driver traffic is
    // bounded by index-file count, and a delete batch touching a slice
    // of the keyspace reads only its covering buckets, never the whole
    // index (the reference probes per-bucket the same way,
    // `persisted_bucket_hash_map.rs:276`).
    val all = indexFiles.toSeq
    val probeFiles = {
      val ranged = all.zipWithIndex.collect {
        case (e, i) if e.khRange.size == 2 =>
          (i, e.khRange.head.toLong, e.khRange(1).toLong)
      }
      if (ranged.isEmpty) all
      else {
        // sorted-range probe: ranges sorted by min hash + a prefix max
        // of the max hashes; per delete key one binary search finds the
        // last range whose min covers, and the backward sweep stops as
        // soon as NO earlier range's max can still cover (generations
        // overlap, so enumeration is needed — the prefix max bounds it
        // to O(log n + generations) on the bucketed layouts compaction
        // produces, instead of a linear scan of every khRange when
        // index generations grow into the hundreds between merges)
        val sortedR = ranged.sortBy(_._2)
        val mns = sortedR.map(_._2).toArray
        val mxs = sortedR.map(_._3).toArray
        val ords = sortedR.map(_._1).toArray
        val pmax = mxs.clone()
        var j = 1
        while (j < pmax.length) {
          pmax(j) = math.max(pmax(j - 1), pmax(j)); j += 1
        }
        val rangesB = spark.sparkContext.broadcast((mns, mxs, ords, pmax))
        val covering = udf((kh: Long) => {
          val (mn, mx, ord, pm) = rangesB.value
          GraftTable.coveringOrdinals(kh, mn, mx, ord, pm)
        })
        val hit = delFrame
          .select(explode(covering(
            xxhash64(keyNames.map(col): _*))).as("i"))
          .agg(collect_set(col("i"))).head().getSeq[Int](0).toSet
        all.zipWithIndex
          .filter { case (e, i) => e.khRange.size != 2 || hit(i) }
          .map(_._1)
      }
    }
    lastDeleteProbe = (probeFiles.size, all.size)
    if (probeFiles.isEmpty) return // all ranged, none cover: deletes miss
    val idx = readIndex(probeFiles)
    // live-file filter matches the driver path's fileEntries guard
    val live = spark.sparkContext.broadcast(fileEntries.keySet.toSet)
    val replay = udf((cands: Seq[Row], dlsns: Seq[Long]) => {
      // newest (lsn, file, pos) first, DEAD ROWS INCLUDED — see
      // resolveCommittedDeletes for why stale deliveries must no-op
      // on the same target instead of popping an older row
      val rows = cands.iterator
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .filter { case (_, f, _) => live.value.contains(f) }
        .toVector.sorted.reverse
      dlsns.distinct.sorted.flatMap { dlsn =>
        rows.find(_._1 < dlsn).map { case (_, f, p) => (f, p) }
      }.distinct
    })
    val delta = idx.join(delFrame, keyNames)
      .groupBy(keyNames.map(col): _*)
      .agg(collect_set(struct(col("_lsn"), col("_file"), col("_pos")))
          .as("cands"),
        collect_set(col("_dlsn")).as("dlsns"))
      .select(explode(replay(col("cands"), col("dlsns"))).as("fp"))
      .select(col("fp._1").as("file"), col("fp._2").as("pos"))
    val fresh = dvPairsFrame() match {
      case Some(dv) => delta.join(dv, Seq("file", "pos"), "left_anti")
      case scala.None => delta
    }
    import spark.implicits._
    val perFile = fresh.toDF("_1", "_2").as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bm = new Roaring64Bitmap
        it.foreach(t => bm.addLong(t._2))
        (f, DvCache.serialize(bm))
      }.collect()
    if (perFile.isEmpty) return
    val bitmaps = perFile.toSeq.map { case (f, b) => f -> DvCache.deserialize(b) }
    bitmaps.foreach { case (f, bm) =>
      dvMap.getOrElseUpdate(f, new Roaring64Bitmap).or(bm)
      fileEntries(f) = fileEntries(f).copy(
        deletes = fileEntries(f).deletes + bm.getLongCardinality)
    }
    Fio.mkdirs(s"$root/dv")
    val name = f"dv-${newId()}%09d.bin"
    DvSidecar.write(s"$root/dv/$name", bitmaps)
    dvFiles += name
    dvBroadcast = scala.None // invalidate
    if (dvFiles.size >= config.indexMergeFileCountThreshold)
      rewriteDvFiles(Set.empty)
  }

  // =====================================================================
  // Publish (M8/M9): resolve deletes, persist DV delta, commit manifest.
  // The reference's in-memory mooncake snapshot and durable iceberg
  // snapshot collapse into one atomic manifest commit (SURVEY §7.1-2).
  // =====================================================================

  /** Auto index merge (M11 maintenance trigger): ingest paths call
   *  this after adding index files; the consolidation itself is
   *  `rebuildIndexExcluding`, the same job `mergeIndexes` runs. */
  private def maybeMergeIndexes(): Unit =
    if (identity != Identity.None &&
        indexFiles.size >= config.indexMergeFileCountThreshold)
      rebuildIndexExcluding(Set.empty, Seq.empty, -1L)

  def publish(): Long = synchronized { Metrics.time("graft.snapshot_creation_latency", root) {
    prof("resolveDeletes")(resolveCommittedDeletes())
    if (newDvPairs.nonEmpty) {
      Fio.mkdirs(s"$root/dv")
      val name = f"dv-${newId()}%09d.bin"
      writeDvFile(newDvPairs.toSeq, name)
      dvFiles += name
      newDvPairs.clear()
      dvBroadcast = scala.None // invalidate
      // DV sidecars accumulate one per delete-carrying publish; the
      // anti-join fallback and reopen read them all, so consolidate at
      // the same threshold as index files (M11's sibling concern)
      if (dvFiles.size >= config.indexMergeFileCountThreshold)
        rewriteDvFiles(Set.empty)
    }
    // no-op guard: when nothing beyond the version number would change,
    // committing is pure version spam — and WORSE than spam with CAS
    // commits: a WAL replay on a second handle (its tail rebuild ends
    // in the same Commit marker) would claim the version a live
    // writer's next real commit needs. Idle publishes return the
    // current version untouched.
    if (currentManifest.copy(version = lastPublishedVar.version)
        == lastPublishedVar) versionVar
    else {
      versionVar += 1
      val m = currentManifest
      // incremental commit: the previously published manifest is the
      // delta base, so a streaming-cadence publish writes O(changed
      // files) bytes instead of re-serializing every live entry
      ManifestLog.commit(root, m, lastPublishedVar)
      lastPublishedVar = m
      // truncate at the *flush* LSN: committed-but-unflushed tail rows
      // are durable only in the WAL (reference truncates at the
      // persisted-snapshot LSN for the same reason, wal.rs:750)
      if (config.walEnabled) Wal.truncate(root, flushLsnVar, walSegments)
      versionVar
    }
  }}

  /** Persist a DV delta as a GDV1 roaring sidecar — driver IO, no Spark
   *  job (the reference ships puffin roaring blobs the same way; a
   *  parquet write here cost a full job per delete-carrying publish). */
  private def writeDvFile(pairs: Seq[(String, Long)], name: String): Unit = {
    val byFile = mutable.LinkedHashMap[String, Roaring64Bitmap]()
    pairs.foreach { case (f, p) =>
      byFile.getOrElseUpdate(f, new Roaring64Bitmap).addLong(p)
    }
    DvSidecar.write(s"$root/dv/$name", byFile.toSeq)
  }

  /**
   * Table fsck (the `CALL system.check` verb): structural integrity of
   * the committed snapshot, each check a (name, ok, detail) row.
   * One distributed metadata-column scan for the row counts; everything
   * else is manifest/bitmap arithmetic on the driver.
   */
  def integrityCheck(): Seq[(String, Boolean, String)] = synchronized {
    val m = currentManifest
    val out = mutable.Buffer[(String, Boolean, String)]()
    def detail(bad: Seq[String]): String =
      if (bad.isEmpty) "ok" else s"bad=${bad.take(5).mkString(",")}"
    // every manifest-referenced file exists on disk
    val missing =
      m.dataFiles.map(_.path).filterNot(p => Fio.exists(s"$root/data/$p")) ++
      m.dvFiles.filterNot(p => Fio.exists(s"$root/dv/$p")) ++
      m.indexFiles.map(_.path).filterNot(p => Fio.exists(s"$root/index/$p"))
    out += (("files-present", missing.isEmpty, detail(missing)))
    // physical parquet row counts match the manifest accounting
    if (m.dataFiles.nonEmpty && missing.isEmpty) {
      val counts = spark.read
        .parquet(m.dataFiles.map(e => s"$root/data/${e.path}"): _*)
        .groupBy(substring_index(col("_metadata.file_path"), "/", -1).as("f"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bad = m.dataFiles
        .filter(e => counts.getOrElse(e.path, -1L) != e.rows).map(_.path)
      out += (("row-counts", bad.isEmpty, detail(bad)))
    } else out += (("row-counts", missing.isEmpty, "skipped: missing files"))
    // DV positions stay inside their file; masked counts match
    val rowsOf = m.dataFiles.map(e => e.path -> e.rows).toMap
    val delOf = m.dataFiles.map(e => e.path -> e.deletes).toMap
    val dvBad = dvMap.toSeq.filter { case (f, _) => rowsOf.contains(f) }
      .flatMap { case (f, bm) =>
        val maxPos =
          if (bm.isEmpty) -1L else bm.getReverseLongIterator.next()
        val cardBad = bm.getLongCardinality != delOf(f)
        if (maxPos >= rowsOf(f) || cardBad) Some(f) else scala.None
      }
    out += (("dv-bounds", dvBad.isEmpty, detail(dvBad)))
    // keyed tables: every live data file is covered by the key index
    if (keyCols.nonEmpty) {
      val covered = m.indexFiles.flatMap(_.dataFiles).toSet
      val uncovered = m.dataFiles.map(_.path).filterNot(covered)
      out += (("index-coverage", uncovered.isEmpty, detail(uncovered)))
    }
    out += (("lsn-order", m.flushLsn <= m.commitLsn,
      s"flush=${m.flushLsn} commit=${m.commitLsn}"))
    // bucketed tables: layout decay surfaced, not just correctness. A
    // table fed only sub-floor micro-batches accumulates unbucketed
    // files (both write paths degrade those to plain chunks) and
    // silently loses zero-exchange SPJ until compaction re-buckets —
    // operators need to SEE that drift to schedule maintenance. ok
    // while every live file carries a valid bucket id.
    if (m.bucketN > 0L) {
      val unbucketed = m.dataFiles.count(_.bucket < 0L)
      out += (("bucket-layout", unbucketed == 0,
        s"bucketN=${m.bucketN} bucketed=${m.dataFiles.size - unbucketed} " +
          s"unbucketed=$unbucketed"))
    }
    // aggregate-pushdown currency (the bucket-layout row's sibling for
    // the masked-row accounting): files whose deletes outgrew their
    // dvAccounted fold make COUNT(col)/SUM/AVG/MIN/MAX decline to the
    // scan until `CALL system.refresh_stats` (or the maintenance tick)
    // re-folds them. Never a wrong answer — but operators need to SEE
    // how much of the table is declining to schedule the refresh.
    val staleAgg = m.dataFiles.filter(e => e.deletes > 0 && !e.dvStatsCurrent)
    out += (("dv-stats-currency", staleAgg.isEmpty,
      s"stale_files=${staleAgg.size} " +
        s"masked_rows=${staleAgg.map(e => e.deletes - e.dvAccounted).sum}"))
    out.toSeq
  }

  /** committed live cardinality from manifest stats (no scan) */
  def liveRowCount: Long = synchronized {
    fileEntries.values.map(e => e.rows - e.deletes).sum
  }

  /** Whether committed rows still live only in the mem-slice tail —
   *  the maintenance daemon's snapshot-tick predicate (the same filter
   *  `flush()` uses to pick flushable rows). False on an idle table, so
   *  periodic ticks never publish no-op manifest versions. */
  def hasUnflushedCommitted: Boolean = synchronized {
    tail.exists(t =>
      t.lsn <= commitLsnVar && (t.live || t.deletedLsn > commitLsnVar))
  }

  def currentManifest: Manifest = Manifest(versionVar, commitLsnVar,
    flushLsnVar, schemaVar.json, keyCols, fileEntries.values.toSeq,
    dvFiles.toSeq, indexFiles.toSeq, lastFieldIdVar, droppedColsVar.toSeq,
    streamEpochsVar, queryEpochsVar, bucketNVar)

  // ---- metadata tables (Iceberg `table.files` / `table.history` role) --

  /** One row per live data file of the CURRENT version: the manifest's
   *  file-level accounting (row counts, DV-masked rows, byte sizes,
   *  commit LSN high-water) exposed as a queryable DataFrame. Driver
   *  metadata only — no data file is opened. */
  def metaFiles: DataFrame = synchronized {
    val rows = fileEntries.values.toSeq.map(e =>
      Row(e.path, e.rows, e.bytes, e.maxLsn, e.deletes, e.rows - e.deletes))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("path", StringType), StructField("rows", LongType),
      StructField("bytes", LongType), StructField("max_lsn", LongType),
      StructField("deletes", LongType), StructField("live_rows", LongType))))
  }

  /** One row per manifest version, oldest first: the table's commit
   *  history with per-version file/row accounting — what an auditor or
   *  an incremental consumer reads to pick time-travel cuts. O(versions)
   *  tiny JSON loads on the driver, no scan. */
  def metaHistory: DataFrame = synchronized {
    // streaming fold: only the previous manifest and the small Rows are
    // retained — never O(versions × files) driver heap (VERDICT r18 #1)
    val rows = ManifestLog.foldVersions(root) { (v, m) =>
      Row(v, m.commitLsn, m.flushLsn, m.dataFiles.size.toLong,
        m.totalRows, m.liveRows, m.dvFiles.size.toLong,
        m.indexFiles.size.toLong)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("version", LongType), StructField("commit_lsn", LongType),
      StructField("flush_lsn", LongType), StructField("n_files", LongType),
      StructField("total_rows", LongType), StructField("live_rows", LongType),
      StructField("n_dv_files", LongType), StructField("n_index_files", LongType))))
  }

  private[table] def loadDvState(): Unit =
    // direct sidecar reads, bitmap OR into roaring state — positions are
    // never expanded to pair lists, and reopen costs no Spark job
    dvFiles.foreach { f =>
      DvSidecar.read(s"$root/dv/$f").foreach { case (file, bm) =>
        dvMap.getOrElseUpdate(file, new Roaring64Bitmap).or(bm)
      }
    }

  // =====================================================================
  // Read path (S10/S11): committed files minus DVs, union in-mem tail.
  // =====================================================================

  /** Union read at LSN >= `atLeastLsn` (reference `snapshot_read.rs:152`;
   *  gating `read_state_manager.rs:90-130`). Returns the current
   *  committed state; throws if the table has not yet committed the
   *  requested LSN. */
  def read(atLeastLsn: Option[Long] = scala.None): DataFrame = synchronized {
    atLeastLsn.foreach { l =>
      if (commitLsnVar < l)
        throw new IllegalStateException(
          s"read at LSN $l not yet committed (commitLsn=$commitLsnVar)")
    }
    val committed = committedDF
    val tailRows = tail.filter(t =>
        t.lsn <= commitLsnVar &&
        (t.deletedLsn < 0 || t.deletedLsn > commitLsnVar))
      .map(_.row).toSeq
    if (tailRows.isEmpty) committed
    else committed.unionByName(spark.createDataFrame(tailRows.asJava, schemaVar))
  }

  /**
   * Time-travel read (M8/M9 extension): the durable snapshot of the
   * NEWEST manifest version whose commitLsn <= `lsn` — its data files
   * minus its deletion vectors, projected to its own (historical)
   * schema, so a read across an ALTER shows the columns of that era.
   *
   * Semantics: this serves the version's persisted file layer (the
   * two-tier-LSN durable state, reference persistence snapshots
   * §3.2) — when the version was published by a batch apply, flushLsn
   * == commitLsn and the snapshot is the exact table state at that
   * commit. Valid back to the vacuum horizon: vacuum() spares only
   * current + pinned files, so materializing a version older than the
   * last vacuum fails on the missing file, loudly (same contract as
   * Iceberg snapshot expiry / Delta VACUUM vs time travel).
   */
  def readAsOf(lsn: Long): DataFrame = synchronized {
    val vs = ManifestLog.versions(root)
    // scan on the per-document commitLsn (no delta-chain replay for
    // versions that are only inspected), materialize ONLY the cut.
    // NOTE a committed version's commitLsn is NOT monotone in version —
    // restoreToVersion republishes an old commitLsn as a new version —
    // so the newest-first scan cannot be a binary search (a restore
    // below a bisection probe would be skipped); each inspection is
    // instead made ~free: commitLsnOf streams only the document HEAD,
    // and the (version → commitLsn) fact is immutable once committed,
    // so it is memoized per handle — repeated cuts re-read nothing
    val m = vs.reverseIterator
      .find { v =>
        val l = commitLsnMemo.getOrElseUpdate(v,
          ManifestLog.commitLsnOf(root, v))
        l >= 0 && l <= lsn
      }
      .map(v => ManifestLog.load(root, v))
      .getOrElse(throw new IllegalArgumentException(
        s"no committed version at or below LSN $lsn"))
    snapshotDF(m)
  }

  /** Time-travel read addressed by manifest VERSION (the second axis
   *  real table formats expose beside the LSN/timestamp one). DDL
   *  publishes a version without consuming an LSN, so version
   *  addressing is the only way to read the pre-ALTER era of an
   *  LSN-coincident schema change. */
  def readAsOfVersion(version: Long): DataFrame = synchronized {
    require(ManifestLog.versions(root).contains(version),
      s"no such version: $version")
    snapshotDF(ManifestLog.load(root, version))
  }

  /**
   * Change data feed: the NET row-level changes between two historical
   * cuts — the API a downstream consumer of a CDC-maintained table
   * polls instead of re-reading the world. Each output row carries the
   * key columns, `_change_type` (insert | update | delete), and the
   * full `_pre` / `_post` row structs (null on the absent side).
   *
   * Computed as a content diff of the two time-travel snapshots: one
   * full-outer sort-merge join keyed on the table identity, keeping
   * rows whose images differ. That is two vectorized scans + ONE
   * key-partitioned shuffle at any scale, independent of how many
   * commits lie between the cuts (no log replay) — and it stays
   * correct across compaction, which rewrites files without changing
   * content. Net semantics: a key inserted and deleted strictly inside
   * the window reports nothing, like Delta CDF's per-version net when
   * read edge-to-edge.
   */
  def changesBetween(fromLsn: Long, toLsn: Long): DataFrame = synchronized {
    require(keyCols.nonEmpty, "changesBetween needs a keyed identity")
    require(fromLsn <= toLsn, s"fromLsn $fromLsn > toLsn $toLsn")
    val pre = readAsOf(fromLsn)
    val post = readAsOf(toLsn)
    require(pre.schema == post.schema,
      "schema changed between the cuts; diff each era separately")
    val dataCols = pre.columns.toSeq
    val preS = pre.select(keyCols.map(col) :+
      struct(dataCols.map(col): _*).as("_pre"): _*)
    val postS = post.select(keyCols.map(col) :+
      struct(dataCols.map(col): _*).as("_post"): _*)
    preS.join(postS, keyCols, "full_outer")
      .where(col("_pre").isNull || col("_post").isNull ||
        col("_pre") =!= col("_post"))
      .select(keyCols.map(col) ++ Seq(
        when(col("_pre").isNull, lit("insert"))
          .when(col("_post").isNull, lit("delete"))
          .otherwise(lit("update")).as("_change_type"),
        col("_pre"), col("_post")): _*)
  }

  /**
   * Predicate delete (the DELETE WHERE verb): resolve the predicate
   * against the current state into key-level delete events, then run
   * them through the ordinary distributed batch path — one scan of the
   * table + one ingest batch. Untouched rows are never rewritten: the
   * matched rows become DV positions exactly like CDC deletes, so the
   * verb costs O(matched) no matter how large the table is (rewriting
   * files is compaction's job, triggered by its own thresholds).
   * Returns the commit LSN of the delete batch.
   */
  def deleteWhere(cond: org.apache.spark.sql.Column): Long = synchronized {
    require(identity != Identity.None, "deleteWhere needs a table identity")
    flush() // pin the file set the predicate scan reads
    val lsn = commitLsnVar + 1
    val ev = read(scala.None).where(cond).select(
      lit("d").as("_op") +: lit(lsn).as("_lsn") +:
      schemaVar.fieldNames.toSeq.map(col): _*)
    applyBatchDF(ev, lsn, hasDeletes = true)
  }

  /**
   * Predicate update (the UPDATE ... SET verb): matched rows become
   * upsert events with the assignments applied — the delete-half DVs
   * the old row version, the append-half writes the new one, exactly
   * like a CDC update. O(matched) like deleteWhere; key columns cannot
   * be assigned (an update that moves a key is a delete + insert, which
   * MERGE INTO expresses). Returns the commit LSN of the update batch.
   */
  def updateWhere(cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = synchronized {
    require(identity != Identity.None, "updateWhere needs a table identity")
    require(identity != Identity.FullRow,
      "updateWhere on full-row identity changes the key; use delete+insert")
    set.keys.foreach(c => require(schemaVar.fieldNames.contains(c),
      s"no such column: $c"))
    require(set.keys.forall(c => !keyCols.contains(c)),
      "cannot assign key columns")
    flush() // pin the file set the predicate scan reads
    val lsn = commitLsnVar + 1
    val ev = read(scala.None).where(cond).select(
      lit("u").as("_op") +: lit(lsn).as("_lsn") +:
      schemaVar.fields.toSeq.map(f =>
        set.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))): _*)
    applyBatchDF(ev, lsn, hasDeletes = true)
  }

  /**
   * RESTORE (the Delta RESTORE / Iceberg rollback verb): make a
   * historical version's content the CURRENT content, published as a
   * NEW version — history is never rewritten, so a restore is itself
   * an auditable commit and un-restoring is just another restore.
   * Metadata-only: the new manifest points at the old version's files;
   * no data moves. Valid back to the vacuum horizon (a missing file
   * fails loudly, the same contract as time travel). The WAL is
   * cleared: every event it could replay is either durable in the
   * restored manifest or deliberately rolled back, and replaying the
   * rolled-back suffix on reopen would resurrect it.
   */
  def restoreToVersion(version: Long): Long = synchronized {
    require(xacts.isEmpty, "open streaming transactions; commit or abort first")
    require(tail.isEmpty && pendingDeletes.isEmpty && newDvPairs.isEmpty,
      "unflushed tail rows; flush() before restore")
    require(ManifestLog.versions(root).contains(version),
      s"no such version: $version")
    val m = ManifestLog.load(root, version)
    require(m.keyCols == keyCols, "table identity changed; cannot restore")
    m.dataFiles.foreach(e => require(Fio.exists(s"$root/data/${e.path}"),
      s"version $version is beyond the vacuum horizon: missing ${e.path}"))
    schemaVar = m.schema
    keyIdx = keyCols.map(schemaVar.fieldIndex)
    fileEntries.clear(); m.dataFiles.foreach(e => fileEntries(e.path) = e)
    dvFiles.clear(); dvFiles ++= m.dvFiles
    indexFiles.clear(); indexFiles ++= m.indexFiles
    commitLsnVar = m.commitLsn
    flushLsnVar = m.flushLsn
    bucketNVar = m.bucketN
    // field ids stay monotonic ACROSS the restore: ids assigned by the
    // rolled-back suffix are burned, never reissued
    lastFieldIdVar = math.max(lastFieldIdVar, m.lastFieldId)
    // physical names used anywhere in history stay reserved — files
    // written after `version` survive on disk until vacuum
    m.droppedCols.foreach(p =>
      if (!droppedColsVar.contains(p)) droppedColsVar += p)
    dvMap.clear(); dvBroadcast = scala.None
    loadDvState()
    if (config.walEnabled) dropWal()
    publish()
  }

  /** Materialize a (possibly historical) manifest version: its file
   *  set with its DV set, under its own schema's physical-name
   *  mapping. Reads no instance scan state — only the manifest and
   *  its sidecars — so it is correct for any version, not just the
   *  live one. */
  private def snapshotDF(m: Manifest): DataFrame = {
    val snapSchema = m.schema
    if (m.dataFiles.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), snapSchema)
    val phys = StructType(snapSchema.fields.map(f =>
      f.copy(name = SchemaDsl.physicalName(f))))
    val base = spark.read.schema(phys)
      .parquet(m.dataFiles.map(e => s"$root/data/${e.path}"): _*)
    val dv = mutable.LinkedHashMap[String, Roaring64Bitmap]()
    m.dvFiles.foreach { f =>
      DvSidecar.read(s"$root/dv/$f").foreach { case (file, bm) =>
        dv.getOrElseUpdate(file, new Roaring64Bitmap).or(bm)
      }
    }
    val live = dv.iterator.filter(_._2.getLongCardinality > 0)
      .map { case (f, bm) => f -> DvCache.serialize(bm) }.toMap
    val filtered =
      if (live.isEmpty) base
      else {
        val bc = spark.sparkContext.broadcast(live)
        base.where(DvCache.notDeletedUdf(bc)(
          substring_index(col("_metadata.file_path"), "/", -1),
          col("_metadata.row_index")))
      }
    filtered.select(snapSchema.fields.toSeq.map(f =>
      col(SchemaDsl.physicalName(f)).as(f.name)): _*)
  }

  /** Blocking read: wait up to `timeoutMs` for commitLsn >= lsn (a
   *  concurrent thread drives apply()). Reference `try_read` blocking
   *  path, `read_state_manager.rs:107-130`. */
  def readAwait(lsn: Long, timeoutMs: Long = 10000): DataFrame = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (commitLsn < lsn && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    read(Some(lsn))
  }

  // ----- reader pins: vacuum-safe snapshot reads -----------------------
  // The reference refcounts scan state per snapshot (scan_table_begin/
  // end pin the files a DataFusion scan touches, table_provider.rs:
  // 244-256); a plain `read()` DataFrame is lazy, so a compact+vacuum
  // issued before (or during) its execution could delete the files
  // under it. `readPinned` snapshots the version's file set and vacuum
  // spares every pinned file until the handle closes.

  /** A pinned snapshot read: `df` stays executable across concurrent
   *  compact()/vacuum() until `close()`. */
  final class ReadPin private[GraftTable] (
      private[GraftTable] val dataFiles: Set[String],
      private[GraftTable] val dvPins: Set[String],
      private[GraftTable] val idxPins: Set[String],
      val df: DataFrame) extends AutoCloseable {
    /** the pinned snapshot's file names (S12 scan protocol publishes
     *  these as the scan-state blob) */
    def pinnedDataFiles: Seq[String] = dataFiles.toSeq.sorted
    def pinnedDvFiles: Seq[String] = dvPins.toSeq.sorted
    override def close(): Unit = releasePin(this)
  }

  private val readPinsActive = mutable.ArrayBuffer[ReadPin]()
  private def releasePin(p: ReadPin): Unit =
    synchronized { readPinsActive -= p }

  /** Pin the current committed version and read it (same semantics as
   *  `read`). Callers own the handle: `close()` releases the pin. */
  def readPinned(atLeastLsn: Option[Long] = scala.None): ReadPin = synchronized {
    val df = read(atLeastLsn)
    val pin = new ReadPin(fileEntries.keySet.toSet, dvFiles.toSet,
      indexFiles.map(_.path).toSet, df)
    readPinsActive += pin
    pin
  }

  // ----- M16 seam: optional object-storage cache on the scan path -----
  // The pin cycle mirrors scan_table_begin/end (S12): each read pins the
  // snapshot's files and the PREVIOUS read's pins release after the new
  // ones are taken, so files shared across versions never churn.
  private var cacheOpt: Option[graft.storage.ObjectCache] = scala.None
  private var readPins: Seq[graft.storage.CacheHandle] = Nil

  /** Route data-file scans through `cache` (reference NVMe cache, M16):
   *  hits read the local copy, budget-denied files fall back to the
   *  remote path untouched. */
  def attachCache(cache: graft.storage.ObjectCache): Unit = synchronized {
    cacheOpt = Some(cache)
  }

  /** Detach and release this table's read pins. */
  def detachCache(): Unit = synchronized {
    readPins.foreach(_.unpin()); readPins = Nil
    cacheOpt = scala.None
  }

  /** Committed on-disk part of the table, DVs applied. */
  private def committedDF: DataFrame = {
    if (fileEntries.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), schemaVar)
    val rawPaths = fileEntries.keys.map(f => s"$root/data/$f").toSeq
    val paths = cacheOpt match {
      case Some(c) =>
        val pinsAndPaths = rawPaths.map { p =>
          c.get(p, p) match {
            case Some(h) => (Some(h), h.localPath)
            case scala.None => (scala.None, p) // budget denied: remote read
          }
        }
        val old = readPins
        readPins = pinsAndPaths.flatMap(_._1)
        old.foreach(_.unpin())
        pinsAndPaths.map(_._2)
      case scala.None => rawPaths
    }
    val base = spark.read.schema(physicalSchema).parquet(paths: _*)
    applyDvFilter(base).select(toLogicalCols: _*)
  }

  /** Filter out DV'd rows — no shuffle on the common path; the Spark-4
   *  `_metadata.row_index` replaces the reference's parquet RowSelection
   *  (`table_provider.rs:140-167`).
   *
   *  Scale: bitmaps cross the wire roaring-SERIALIZED (the reference
   *  ships puffin roaring blobs the same way, `deletion_vector.rs:29`)
   *  and are deserialized once per executor JVM; they are never expanded
   *  to raw position arrays. Past `dvBroadcastMaxDeletes` positions the
   *  broadcast itself is the wrong shape, so the filter degrades to a
   *  `left_anti` join against the DV parquet sidecars. */
  private def applyDvFilter(base: DataFrame): DataFrame = {
    val totalDeletes = dvMap.valuesIterator.map(_.getLongCardinality).sum
    if (totalDeletes == 0) return base
    if (totalDeletes <= config.dvBroadcastMaxDeletes) {
      val bc = dvBroadcast.getOrElse {
        val m = dvMap.iterator.filter(_._2.getLongCardinality > 0)
          .map { case (f, bm) => f -> DvCache.serialize(bm) }.toMap
        val b = spark.sparkContext.broadcast(m)
        dvBroadcast = Some(b)
        b
      }
      base.where(DvCache.notDeletedUdf(bc)(
        substring_index(col("_metadata.file_path"), "/", -1),
        col("_metadata.row_index")))
    } else {
      val dv = dvPairsFrame().get // dvMap nonempty => some DV source is
        .select(col("file").as("_dv_file"), col("pos").as("_dv_pos"))
      base
        .withColumn("_scan_file",
          substring_index(col("_metadata.file_path"), "/", -1))
        .withColumn("_scan_pos", col("_metadata.row_index"))
        .join(dv, col("_scan_file") === col("_dv_file") &&
          col("_scan_pos") === col("_dv_pos"), "left_anti")
        .drop("_scan_file", "_scan_pos")
    }
  }

  /** Every existing DV position as a distributed (file, pos) frame:
   *  dvMap == persisted DV files ∪ unpersisted newDvPairs; both sides
   *  are needed for consumers running mid-publish (compact). Sidecar
   *  blobs are read and EXPANDED to (file,pos) rows on the executors
   *  (binaryFile scan + flatMap) — the driver never holds a raw
   *  position list. None when no DV state exists. */
  private def dvPairsFrame(): Option[DataFrame] = {
    import spark.implicits._
    val persisted =
      if (dvFiles.isEmpty) scala.None
      else Some(spark.read.format("binaryFile")
        .load(dvFiles.map(f => s"$root/dv/$f").toSeq: _*)
        .select(col("content")).as[Array[Byte]]
        .flatMap(bytes => DvSidecar.fromBytes(bytes).iterator.flatMap {
          case (f, bm) =>
            val it = bm.getLongIterator
            new Iterator[(String, Long)] {
              def hasNext: Boolean = it.hasNext
              def next(): (String, Long) = (f, it.next())
            }
        })
        .toDF("file", "pos"))
    val unpersisted =
      if (newDvPairs.isEmpty) scala.None
      else Some(spark.createDataFrame(
        newDvPairs.map { case (f, p) => Row(f, p) }.asJava, dvSchema))
    (persisted ++ unpersisted).reduceOption(_ unionByName _)
  }

  /** File pruning by manifest min/max stats: driver-side pre-filter of
   *  the scan list before Spark ever plans it (SURVEY §4; the reference
   *  ships stats to engines via iceberg manifests). */
  def prunedRead(colName: String, lo: Option[Any], hi: Option[Any]): DataFrame =
    prunedRead(Seq((colName, lo, hi)))

  /** Multi-predicate form: a file survives only if EVERY (col, lo, hi)
   *  range overlaps its stats — the shape a z-ordered table serves,
   *  where ANY clustered column's predicate prunes. */
  def prunedRead(preds: Seq[(String, Option[Any], Option[Any])]): DataFrame =
    synchronized {
      val keep = fileEntries.values.filter { e =>
        preds.forall { case (colName, lo, hi) =>
          val dt = schemaVar.fields(schemaVar.fieldIndex(colName)).dataType
          implicit val ord: Ordering[Any] = anyOrdering(dt)
          e.stats.get(colName) match {
            case Some(Seq(mn, mx)) =>
              lo.forall(l => ord.gteq(parseStat(dt, mx), l)) &&
                hi.forall(h => ord.lteq(parseStat(dt, mn), h))
            case _ => true // no stats -> cannot prune
          }
        }
      }.map(e => s"$root/data/${e.path}").toSeq
      if (keep.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[Row](), schemaVar)
      else applyDvFilter(spark.read.schema(physicalSchema).parquet(keep: _*))
        .select(toLogicalCols: _*)
    }

  // =====================================================================
  // Maintenance (M10/M11/M13/M14/M15)
  // =====================================================================

  /** Data compaction: rewrite heavily-deleted or small files into
   *  final-size files, dropping DV'd rows and rebuilding their index
   *  entries (reference `compaction/compactor.rs:40,388`; thresholds
   *  `compaction_config.rs:48-55`). Fully distributed — no driver
   *  collect of data rows. */
  def compact(force: Boolean = false,
      clusterBy: Seq[String] = Nil,
      zorder: Boolean = false,
      bucketBy: Option[Int] = scala.None): Boolean = synchronized {
    // resolve committed deletes first: afterwards every remaining
    // pending delete has lsn > commitLsn >= any rewritten row's LSN, so
    // stamping compacted index entries with the victims' maxLsn keeps
    // resolution exact
    resolveCommittedDeletes()
    val all = fileEntries.values.toSeq
    def heavilyDeleted(e: DataFileEntry) =
      e.deletes > 0 && e.deletes.toDouble >= e.rows * config.compactDeleteRatio
    def small(e: DataFileEntry) = e.rows < config.compactSmallFileRows
    // an explicitly requested bucketed layout must never silently
    // no-op on a healthy file set
    val shouldRun = force || bucketBy.isDefined || all.exists(heavilyDeleted) ||
      all.count(small) >= config.compactFileCountThreshold
    if (!shouldRun) return false
    // maintenance compaction on an already-bucketed table ESCALATES to a
    // bucket-routed rewrite (same n): rewritten files stay single-bucket
    // and the layout — and SPJ — survives routine small-file/DV
    // maintenance instead of dying with the first merged file. Untouched
    // files keep their valid bucket ids, so the victim cap still applies.
    val effBucket = bucketBy.orElse(
      if (bucketNVar > 0 && clusterBy.isEmpty && !zorder)
        Some(bucketNVar.toInt)
      else scala.None)
    // a FRESH bucketed rewrite must cover EVERY live file: pre-existing
    // files carry no bucket id, so the per-op file cap does not apply
    val victims =
      if (bucketBy.isDefined) all
      else all.filter(e => heavilyDeleted(e) || small(e) || force)
        .take(config.compactMaxFilesPerOp)
    if (victims.isEmpty) return false

    val victimNames = victims.map(_.path).toSet
    val paths = victims.map(e => s"$root/data/${e.path}")
    val maxLsn = victims.map(_.maxLsn).max
    val totalLive = math.max(1L, victims.map(e => e.rows - e.deletes).sum)
    val nOut = math.ceil(totalLive.toDouble / config.rowsPerFile).toInt

    // rewrite keeps PHYSICAL names — compaction only moves rows.
    // clusterBy range-partitions + sorts the rewrite on the given
    // LOGICAL columns, so the new files' min/max stats become disjoint
    // ranges and manifest file pruning turns a full scan into a
    // point-range one — the Iceberg sort-order / Delta OPTIMIZE ZORDER
    // role, applied at the natural rewrite point
    val live = applyDvFilter(spark.read.schema(physicalSchema).parquet(paths: _*))
      .select(physicalSchema.fieldNames.map(col).toSeq: _*)
    // storage bucket of a row: the SAME hash family the key index uses
    // (xxhash64 over the physical key columns). Defined here so the
    // rewrite routing and the read-back validation share one expression.
    def bucketExpr(n: Int) = pmod(xxhash64(keyCols.map(c =>
      col(SchemaDsl.physicalName(
        schemaVar.fields(schemaVar.fieldIndex(c))))): _*), lit(n.toLong))
    val shaped = effBucket match {
      case Some(n) =>
        require(keyCols.nonEmpty, "bucketBy needs a keyed table")
        require(clusterBy.isEmpty && !zorder,
          "bucketBy excludes clusterBy/zorder (one physical order per rewrite)")
        // the shared bucket router (proxy repartition: partition index
        // == bucket*splits + split, each output file single-bucket —
        // see `routeToBuckets`); splits keep rewrite files at
        // rowsPerFile even when a bucket holds more. Key columns are
        // never remapped, so the router's logical-name hash is exact
        // over this physical-schema read; the read-back below validates
        // every file independently anyway.
        routeToBuckets(live, n, bucketSplits(totalLive, n))
      case scala.None =>
      if (clusterBy.isEmpty) live.repartition(nOut)
      else {
        val cs = clusterBy.map { c =>
          col(SchemaDsl.physicalName(
            schemaVar.fields(schemaVar.fieldIndex(c))))
        }
        if (zorder && cs.size >= 2) {
          // Morton clustering: scale each column onto a shared bit
          // grid from its global min/max (one tiny agg job), interleave
          // into a single z long, and sort the rewrite on it — every
          // output file then covers a small hypercube, so min/max
          // stats prune on ANY clustered column, not just the first
          import graft.spark.ZOrder
          val bits = ZOrder.bitsFor(cs.size)
          val mm = live.agg(
            cs.flatMap(c => Seq(min(c), max(c))).head,
            cs.flatMap(c => Seq(min(c), max(c))).tail: _*).head()
          def toD(a: Any): Double = a match {
            case null => 0.0
            case n: java.lang.Number => n.doubleValue()
            case other => other.toString.toDouble
          }
          val coords = cs.zipWithIndex.map { case (c, i) =>
            ZOrder.gridCoord(c, toD(mm.get(2 * i)), toD(mm.get(2 * i + 1)), bits)
          }
          live.withColumn("_z", ZOrder.zValue(coords, bits))
            .repartitionByRange(nOut, col("_z"))
            .sortWithinPartitions(col("_z")).drop("_z")
        } else
          live.repartitionByRange(nOut, cs: _*).sortWithinPartitions(cs: _*)
      }
    }
    val tmp = s"$root/tmp/${UUID.randomUUID()}"
    shaped.write.mode("overwrite").parquet(tmp)

    // adopt the written part files, then ONE read-back job derives
    // per-file row counts AND min/max stats (compaction must not
    // degrade pruning: the victims' stats die with them)
    val parts = Fio.list(tmp).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    val newNames = parts.map { p =>
      val name = f"data-${newId()}%09d.parquet"
      Fio.move(s"$tmp/$p", s"$root/data/$name")
      name
    }
    Fio.delete(tmp)
    val statFields = schemaVar.fields.filter(f => statsComparable(f.dataType)).toSeq
    // with bucketBy the SAME read-back job also validates the routing:
    // each new file's bucket expression must be constant (min == max),
    // which becomes the file's manifest bucket id
    var fileBucket: Map[String, Long] = Map.empty
    val backStats: Map[String, PartFileStats] =
      if (newNames.isEmpty) Map.empty
      else {
        val aggs = count(lit(1)).as("_n") +:
          (effBucket.toSeq.flatMap(n =>
            Seq(min(bucketExpr(n)).as("_bmn"), max(bucketExpr(n)).as("_bmx"))) ++
          statFields.flatMap { f =>
            val p = col(SchemaDsl.physicalName(f))
            Seq(min(p).as(s"_mn_${f.name}"), max(p).as(s"_mx_${f.name}"),
              count(p).as(s"_nn_${f.name}")) ++ // non-null count -> nullStats
              // cheap per-file distinct estimate: pre-filters which
              // (file, column) pairs can carry per-value accounting, so
              // the exact follow-up job below never groups a
              // high-cardinality column
              (if (GraftTable.valueCountable(f.dataType))
                 Seq(approx_count_distinct(p).as(s"_ad_${f.name}"))
               else Nil) ++
              // integral sums recombine exactly (wrapping 64-bit adds).
              // Accumulate in decimal(38,0): an ANSI (Spark 4 default)
              // long SUM would throw on overflow, making compaction
              // hard-fail on data that ingested fine via the write
              // path's wrapping adds; decimal can't overflow for any
              // real file (≤ ~1e19 per row × file rows ≪ 1e38) and the
              // driver narrows to the same wrapped 64-bit total below.
              // Summable decimal columns (p ≤ 28) accumulate exactly in
              // decimal(38, s): ≥10 integer digits of headroom over any
              // single value, so a per-file total cannot overflow either
              (if (GraftTable.integralLong(f.dataType).isDefined)
                 Seq(sum(p.cast("decimal(38,0)")).as(s"_sm_${f.name}"))
               else GraftTable.decimalSummable(f.dataType).toSeq.map(d =>
                 sum(p.cast(s"decimal(38,${d.scale})"))
                   .as(s"_sm_${f.name}")))
          })
        val rows = spark.read.schema(physicalSchema)
          .parquet(newNames.map(n => s"$root/data/$n"): _*)
          .groupBy(substring_index(col("_metadata.file_path"), "/", -1).as("_f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        if (effBucket.isDefined)
          fileBucket = rows.flatMap { r =>
            val (mn, mx) = (r.getLong(r.fieldIndex("_bmn")),
              r.getLong(r.fieldIndex("_bmx")))
            if (mn == mx) Some(r.getString(0) -> mn) else scala.None
          }.toMap
        // exact per-value accounting for the columns the HLL estimate
        // says can fit the cap SOMEWHERE (≤2× headroom over its ~2-5%
        // error): ONE unshuffled mapPartitions pass projecting only the
        // candidate columns, per-file ValueCounters merged on the
        // driver (rendered counts add across partitions; exceeding the
        // cap — or any dead partition-local counter — kills the
        // column for that file). One narrow extra read instead of one
        // shuffled job per column.
        val backVals: Map[String, Map[String, Map[String, String]]] = {
          val cand = statFields.filter(f =>
            GraftTable.valueCountable(f.dataType) && rows.exists(r =>
              r.getLong(r.fieldIndex(s"_ad_${f.name}")) <=
                2L * GraftTable.ValueStatsCap))
          if (cand.isEmpty) Map.empty
          else {
            val mks = cand.map(f =>
              GraftTable.valueCounterMk(f.dataType).get).toArray
            val names = cand.map(_.name)
            val raw = spark.read.schema(physicalSchema)
              .parquet(newNames.map(n => s"$root/data/$n"): _*)
              .select(substring_index(col("_metadata.file_path"), "/", -1)
                .as("_f") +:
                cand.map(f => col(SchemaDsl.physicalName(f))): _*)
              .rdd.mapPartitions { it =>
                val perFile = mutable.HashMap[String,
                  Array[GraftTable.ValueCounter]]()
                it.foreach { r =>
                  val cs = perFile.getOrElseUpdate(r.getString(0),
                    mks.map(_()))
                  var j = 0
                  while (j < cs.length) {
                    val v = r.get(j + 1)
                    if (v != null) cs(j).add(v)
                    j += 1
                  }
                }
                perFile.iterator.map { case (f, cs) =>
                  (f, cs.map(_.render)) } // null element = dead column
              }.collect()
            val acc = mutable.HashMap[String,
              Array[mutable.Map[String, Long]]]()
            raw.foreach { case (f, cols) =>
              val a = acc.getOrElseUpdate(f, Array.fill(names.size)(
                mutable.Map[String, Long]()))
              var j = 0
              while (j < cols.length) {
                if (a(j) != null) {
                  if (cols(j) == null) a(j) = null
                  else {
                    cols(j).foreach { case (k, c) =>
                      a(j)(k) = a(j).getOrElse(k, 0L) + c.toLong }
                    if (a(j).size > GraftTable.ValueStatsCap) a(j) = null
                  }
                }
                j += 1
              }
            }
            acc.map { case (f, arr) =>
              f -> names.zipWithIndex.collect {
                case (nm, j) if arr(j) != null =>
                  nm -> arr(j).map { case (k, c) =>
                    k -> c.toString }.toMap
              }.toMap
            }.toMap
          }
        }
        rows.map { r =>
            val n = r.getLong(r.fieldIndex("_n"))
            val (stats, exact) = boundsAndExact(statFields.map { f =>
              (f, r.get(r.fieldIndex(s"_mn_${f.name}")),
                r.get(r.fieldIndex(s"_mx_${f.name}")))
            })
            val nulls = statFields.map { f =>
              f.name -> (n - r.getLong(r.fieldIndex(s"_nn_${f.name}"))).toString
            }.toMap
            val sums = statFields.flatMap { f =>
              if (GraftTable.integralLong(f.dataType).isDefined) {
                val i = r.fieldIndex(s"_sm_${f.name}")
                // SUM of zero values is NULL; the partial identity is 0.
                // BigInt.longValue keeps the low-order 64 bits (two's
                // complement) — exactly the wrapping total the write
                // path accumulates
                Some(f.name -> (if (r.isNullAt(i)) 0L
                           else BigDecimal(r.getDecimal(i)).toBigInt.longValue)
                  .toString)
              } else GraftTable.decimalSummable(f.dataType).map { _ =>
                val i = r.fieldIndex(s"_sm_${f.name}")
                f.name -> (if (r.isNullAt(i)) "0"
                           else r.getDecimal(i).toPlainString)
              }
            }.toMap
            r.getString(0) -> PartFileStats(n, stats, nulls, sums, exact,
              backVals.getOrElse(r.getString(0), Map.empty))
          }.toMap
      }
    val counts: Map[String, Long] = backStats.map { case (n, s) => n -> s.rows }
    val entries = newNames.map(n => DataFileEntry(n,
      counts.getOrElse(n, 0L), Fio.sizeOf(s"$root/data/$n"), maxLsn, 0L,
      backStats.get(n).map(_.stats).getOrElse(Map.empty),
      bucket = fileBucket.getOrElse(n, -1L),
      nullStats = backStats.get(n).map(_.nulls).getOrElse(Map.empty),
      sumStats = backStats.get(n).map(_.sums).getOrElse(Map.empty),
      exactBounds = backStats.get(n).map(_.exact).getOrElse(Seq.empty),
      valueStats = backStats.get(n).map(_.values).getOrElse(Map.empty)))
    // the bucket spec is table-level: a FRESH bucketBy holds only when
    // this rewrite covered every live file (it did — victims = all) AND
    // every surviving file validated single-bucket; any miss degrades to
    // unbucketed (correctness never depends on the spec, only SPJ does).
    // An ESCALATED maintenance rewrite keeps the spec (untouched files
    // already carry valid ids; a failed new file gets -1 and the scan
    // gate degrades per-scan). A clusterBy/zorder rewrite is an explicit
    // CHANGE of physical layout: the bucket spec is dropped.
    bucketNVar = bucketBy match {
      case Some(n) if entries.filter(e =>
        counts.getOrElse(e.path, 0L) > 0L).forall(_.bucket >= 0L) => n.toLong
      case Some(_) => 0L
      case scala.None if effBucket.isDefined => bucketNVar
      case scala.None =>
        if (bucketNVar > 0 && (clusterBy.nonEmpty || zorder)) 0L else bucketNVar
    }

    victimNames.foreach { n => fileEntries.remove(n); dvMap.remove(n) }
    entries.filter(_.rows > 0).foreach(e => fileEntries(e.path) = e)
    newNames.filter(n => counts.getOrElse(n, 0L) == 0L)
      .foreach(n => Fio.delete(s"$root/data/$n"))
    rewriteDvFiles(victimNames)
    rebuildIndexExcluding(victimNames, entries.filter(_.rows > 0).map(_.path), maxLsn)
    dvBroadcast = scala.None
    publish()
    // victims are NOT deleted here: live readers may still hold plans
    // over the old version (the reference pins files via scan handles,
    // table_provider.rs:244-256). vacuum() reclaims them.
    true
  }

  /** Physically delete data/DV files no longer referenced by the
   *  current manifest (snapshot-isolation GC; ≈ Delta VACUUM / Iceberg
   *  expire_snapshots). Call when no reader holds an older version. */
  def vacuum(): Int = synchronized {
    // current version's files, plus every pinned snapshot's (readers at
    // older versions survive compaction+vacuum issued mid-scan), plus
    // everything referenced inside the time-travel retention horizon
    // (`retainVersions` latest manifests stay re-materializable)
    val horizon = ManifestLog.versions(root)
      .takeRight(math.max(1, config.retainVersions))
      .filterNot(_ == versionVar) // current state is the in-memory maps
      .map(v => ManifestLog.load(root, v))
    val liveData = fileEntries.keySet ++ readPinsActive.flatMap(_.dataFiles) ++
      horizon.flatMap(_.dataFiles.map(_.path))
    val liveDv = dvFiles.toSet ++ readPinsActive.flatMap(_.dvPins) ++
      horizon.flatMap(_.dvFiles)
    val liveIdx = indexFiles.map(_.path).toSet ++
      readPinsActive.flatMap(_.idxPins) ++
      horizon.flatMap(_.indexFiles.map(_.path))
    var n = 0
    Fio.list(s"$root/data").filterNot(liveData).foreach { f =>
      Fio.delete(s"$root/data/$f"); n += 1
    }
    Fio.list(s"$root/dv").filterNot(liveDv).foreach { f =>
      Fio.delete(s"$root/dv/$f"); n += 1
    }
    Fio.list(s"$root/index").filterNot(liveIdx).foreach { f =>
      Fio.delete(s"$root/index/$f"); n += 1
    }
    n
  }

  /** Expire old manifest versions (Iceberg expire-snapshots
   *  semantics): keep the latest `keepLast` manifest documents, delete
   *  the rest from the log. Bounds the time-travel axis — at one
   *  commit per micro-batch a year of 1-second batches is ~30M tiny
   *  JSONs, so production runs this on the maintenance cadence. Data
   *  reclamation stays vacuum's job (its `retainVersions` horizon);
   *  expiry only forgets METADATA, so it never races a pinned reader.
   *  Returns the number of versions expired. */
  def expireVersions(keepLast: Int): Int = synchronized {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val all = ManifestLog.versions(root)
    val expired = all.dropRight(keepLast)
    // the retention FLOOR may be a delta document whose replay chain is
    // about to be deleted — materialize its checkpoint sidecar first so
    // every retained version stays loadable (crash-safe: an extra
    // sidecar is idempotent, deletion happens after)
    if (expired.nonEmpty)
      all.drop(expired.size).headOption
        .foreach(f => ManifestLog.checkpoint(root, f))
    expired.foreach(v => ManifestLog.delete(root, v))
    // retention parity for a synced Iceberg export (reference syncs
    // retention through its catalog): the export's snapshot history is
    // bounded by the SAME horizon, and files exclusive to dropped
    // snapshots (manifest lists, manifests, puffins) are reclaimed.
    // Called UNCONDITIONALLY (a no-op for never-synced tables) so a
    // run that pruned the graft log but crashed before the Iceberg
    // sync is healed by the next expiry instead of no-opping forever
    // on expired.isEmpty.
    graft.format.iceberg.IcebergSync.expireSnapshots(root, keepLast)
    expired.size
  }

  /** Index merge (M11): consolidate index files without touching data
   *  (reference `mooncake_table.rs:1369`, `index_merge_config.rs`). */
  def mergeIndexes(): Boolean = synchronized {
    if (identity == Identity.None || indexFiles.size < 2) return false
    val (ranged, unranged) = indexFiles.toSeq.partition(_.khRange.size == 2)
    if (ranged.nonEmpty && unranged.size >= 2 &&
        ranged.size < config.indexMergeFileCountThreshold) {
      // GENERATIONAL merge: fold only the unranged flush tail into a
      // fresh ranged generation — O(rows since the last merge), never
      // O(table). Point probes and delete resolution already search
      // every covering bucket across generations, so overlap is free;
      // when ranged generations themselves pile past the threshold the
      // else-branch folds everything into one generation again (the
      // reference's merge likewise takes the small-file subset,
      // index_merge_config.rs).
      val covered = unranged.flatMap(_.dataFiles).distinct
      val estRows = covered.flatMap(fileEntries.get).map(_.rows).sum
      val fresh = writeRangedIndex(readIndex(unranged),
        math.max(1L, estRows), covered)
      indexFiles.clear()
      indexFiles ++= ranged ++ fresh
    } else rebuildIndexExcluding(Set.empty, Seq.empty, -1L)
    publish()
    true
  }

  /** Rebuild the index as one consolidated file: existing entries
   *  (exact per-row LSNs preserved — merged from the index parquets,
   *  never re-derived from data) minus victim files, plus read-back
   *  entries for newly written files at `additionsLsn`. */
  private def rebuildIndexExcluding(victims: Set[String],
      additions: Seq[String], additionsLsn: Long): Unit = {
    if (identity == Identity.None) return
    val parts = mutable.ArrayBuffer[DataFrame]()
    if (indexFiles.nonEmpty) {
      val old = readIndex(indexFiles.toSeq)
      parts += (if (victims.isEmpty) old
                else old.where(!col("_file").isin(victims.toSeq: _*)))
    }
    if (additions.nonEmpty)
      parts += spark.read.schema(physicalSchema)
        .parquet(additions.map(f => s"$root/data/$f"): _*)
        .select(keyFields.map(f => col(f.name)) :+
          substring_index(col("_metadata.file_path"), "/", -1).as("_file") :+
          col("_metadata.row_index").as("_pos") :+
          lit(additionsLsn).as("_lsn"): _*)
    indexFiles.clear()
    if (parts.nonEmpty)
      indexFiles ++= writeRangedIndex(parts.reduce(_ unionByName _),
        fileEntries.values.map(_.rows).sum,
        fileEntries.keys.toSeq)
    // old index files reclaimed by vacuum()
  }

  /** Range-merge an index frame into size-tuned, hash-bucketed files.
   *  Size-tuned: the index holds ~one row per live table row, so a
   *  single-file merge would funnel the whole table through one task
   *  at scale (reference merges into final-SIZED index files,
   *  `persisted_bucket_hash_map.rs:525`). The merge RANGE-partitions
   *  on xxhash64(key) and records each file's hash coverage in the
   *  manifest — the bucketed-hash-map shape: a point lookup probes
   *  ONE covering file per generation instead of the whole index. */
  private def writeRangedIndex(df: DataFrame, estRows: Long,
      covered: Seq[String]): Seq[IndexFileEntry] = {
    Fio.mkdirs(s"$root/index")
    val nOut = math.max(1,
      math.ceil(estRows.toDouble / config.rowsPerFile).toInt)
    val tmp = s"$root/tmp/${UUID.randomUUID()}"
    val keyHash = xxhash64(keyFields.map(f => col(f.name)): _*)
    df.withColumn("_kh", keyHash).repartitionByRange(nOut, col("_kh"))
      .write.mode("overwrite").parquet(tmp)
    val outParts = Fio.list(tmp)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    val entries = outParts.map { p =>
      val name = f"idx-${newId()}%09d.parquet"
      Fio.move(s"$tmp/$p", s"$root/index/$name")
      IndexFileEntry(name, covered,
        khRange = khFooterRange(s"$root/index/$name")
          .map { case (mn, mx) => Seq(mn.toString, mx.toString) }
          .getOrElse(Seq.empty))
    }
    Fio.delete(tmp)
    entries
  }

  /** min/max of the `_kh` column from the parquet FOOTER — driver
   *  metadata IO only, no Spark job (the write just produced the file;
   *  its row-group stats are exact). None when the column is absent or
   *  statless (pruning then stays off for that file — safe). */
  private def khFooterRange(path: String): Option[(Long, Long)] = try {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), Fio.hadoopConf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks
      var mn = Long.MaxValue; var mx = Long.MinValue; var seen = false
      blocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.toDotString == "_kh" && c.getStatistics != null &&
              !c.getStatistics.isEmpty) {
            val st = c.getStatistics
              .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
            mn = math.min(mn, st.genericGetMin)
            mx = math.max(mx, st.genericGetMax)
            seen = true
          }
        }
      }
      if (seen) Some((mn, mx)) else scala.None
    } finally reader.close()
  } catch { case _: Throwable => scala.None }

  /** Consolidate DV sidecars after compaction: victims' DVs drop, the
   *  rest persist as ONE sidecar serialized straight from the driver's
   *  roaring state (`dvMap` — authoritative, persisted ∪ unpersisted;
   *  compact() removes victims from it before calling here). Bitmaps are
   *  re-serialized without ever expanding to position lists, so this is
   *  O(compressed DV bytes) driver IO — the same memory the roaring
   *  state already occupies — and costs no Spark job. */
  private def rewriteDvFiles(victims: Set[String]): Unit = {
    dvFiles.clear()
    newDvPairs.clear()
    val live = dvMap.iterator.filter { case (f, bm) =>
      !victims.contains(f) && bm.getLongCardinality > 0
    }.toSeq
    if (live.isEmpty) return
    Fio.mkdirs(s"$root/dv")
    val name = f"dv-${newId()}%09d.bin"
    DvSidecar.write(s"$root/dv/$name", live)
    dvFiles += name
    // old dv files reclaimed by vacuum()
  }

  /** Force flush + compaction + index merge (M15 ForceFullMaintenance,
   *  reference `table_handler.rs:239-320`). */
  /** M15 full maintenance; `clusterBy` additionally sorts the rewrite
   *  so file stats become disjoint ranges (see `compact`). */
  /** Refresh masked-row accounting (dvAccounted/dvNullStats/dvSumStats)
   *  for files whose DVs outgrew it, so COUNT(col)/SUM/AVG aggregate
   *  pushdown stays exact under deletes (the reference keeps
   *  cardinality exact under deletes the same way: persisted minus
   *  deleted counts, `snapshot_read.rs:52-61`). ONE columnar job reads
   *  only the stat columns of the stale files and folds each file's
   *  CURRENT bitmap — an idempotent full recompute, since a positional
   *  filter cannot prune parquet row groups and a delta pass would read
   *  the same bytes. Runs on the maintenance cadence (optimize), NEVER
   *  per publish: under continuous upserts nearly every file gains DVs
   *  every batch, and an eager per-commit recompute would degenerate
   *  into a full stat-column table scan per commit. Between refreshes
   *  the pushdown declines (dvAccounted != deletes) and the scan
   *  answers — stale accounting is never trusted.
   *  Returns the number of files refreshed. */
  def refreshDvStats(): Int = synchronized {
    val statF = schemaVar.fields.filter(f => statsComparable(f.dataType)).toSeq
    if (statF.isEmpty) return 0
    val stale = fileEntries.toSeq.collect {
      case (f, e) if e.deletes > 0 && !e.dvStatsCurrent && dvMap.contains(f) => f
    }
    if (stale.isEmpty) return 0
    // batch stale files so the DRIVER never holds more than one batch
    // of serialized DVs at a time (on top of dvMap itself): a
    // table-wide delete burst can leave EVERY file stale, and an eager
    // build would materialize a full second copy of every stale bitmap
    // before the first batch runs. The iterator serializes each file's
    // bitmap only when its batch is assembled, and the batch is
    // released (broadcast destroyed, local refs dropped) before the
    // next one is built — peak overhead is one ~64 MB batch at any
    // table size, executor- AND driver-side.
    val it = stale.iterator
    var total = 0
    var cur = mutable.ArrayBuffer[(String, Array[Byte])]()
    var bytes = 0L
    def flushBatch(): Unit = if (cur.nonEmpty) {
      total += refreshDvStatsBatch(cur.toSeq)
      cur = mutable.ArrayBuffer(); bytes = 0L
    }
    while (it.hasNext) {
      val f = it.next()
      val b = DvCache.serialize(dvMap(f))
      if (cur.nonEmpty && bytes + b.length > (64L << 20)) flushBatch()
      cur += (f -> b); bytes += b.length
    }
    flushBatch()
    total
  }

  private def refreshDvStatsBatch(batch: Seq[(String, Array[Byte])]): Int = {
    val statF = schemaVar.fields.filter(f => statsComparable(f.dataType)).toSeq
    val stale = batch.map(_._1)
    val bc = spark.sparkContext.broadcast(batch.toMap)
    try {
    val mk = DvCache.deletedUdf(bc)(col("_f"), col("_p"))
    // one pass computes the MASKED aggregates (null counts + wrapped
    // sums, for COUNT/SUM/AVG) AND the LIVE min/max (the file's bounds
    // tightened to its surviving rows — so MIN/MAX pushdown re-arms and
    // filter pruning tightens; valid under the same currency condition,
    // since both are written in the same entry update). Decimal sum
    // accumulation: ANSI long SUM would throw on overflow (see the
    // compaction read-back above); narrowed to wrapped below.
    val aggs = count(when(mk, lit(1))).as("_n") +: statF.flatMap { f =>
      val p = col(SchemaDsl.physicalName(f))
      Seq(count(when(mk, p)).as(s"_nn_${f.name}"),
        min(when(!mk, p)).as(s"_lmn_${f.name}"),
        max(when(!mk, p)).as(s"_lmx_${f.name}")) ++
        (if (GraftTable.integralLong(f.dataType).isDefined)
           Seq(sum(when(mk, p.cast("decimal(38,0)"))).as(s"_sm_${f.name}"))
         else GraftTable.decimalSummable(f.dataType).toSeq.map(d =>
           sum(when(mk, p.cast(s"decimal(38,${d.scale})")))
             .as(s"_sm_${f.name}")))
    }
    val rows = spark.read.schema(physicalSchema)
      .parquet(stale.map(f => s"$root/data/$f"): _*)
      .select(Seq(
        substring_index(col("_metadata.file_path"), "/", -1).as("_f"),
        col("_metadata.row_index").as("_p")) ++
        statF.map(f => col(SchemaDsl.physicalName(f))): _*)
      .groupBy(col("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // per-value accounting is rewritten LIVE (like the bounds below,
    // not delta'd like nulls/sums — per-value masked deltas would need
    // a per-value map of their own): one narrow job per column that
    // any stale file recorded, grouping the SURVIVING rows by value.
    // Result size is bounded by files × ValueStatsCap (the live
    // distinct set is a subset of the physical one that fit the cap).
    // Runs BEFORE the entries are marked current: live values under a
    // stale dvAccounted stay gated off (valuesOf declines), while a
    // failure here leaves nothing marked current — the reverse order
    // could trust PHYSICAL counts as live after a partial failure.
    statF.foreach { sf =>
      val fs = stale.filter(f =>
        fileEntries.get(f).exists(_.valueStats.contains(sf.name)))
      if (fs.nonEmpty) {
        val lv = spark.read.schema(physicalSchema)
          .parquet(fs.map(f => s"$root/data/$f"): _*)
          .select(
            substring_index(col("_metadata.file_path"), "/", -1).as("_f"),
            col("_metadata.row_index").as("_p"),
            col(SchemaDsl.physicalName(sf)).as("_v"))
          .where(!mk && col("_v").isNotNull)
          .groupBy(col("_f"), col("_v")).agg(count(lit(1)).as("_n"))
          .collect()
        val byFile = lv.groupBy(_.getString(0))
        fs.foreach { f =>
          val vs = byFile.getOrElse(f, Array.empty)
          val rendered = vs.map(r =>
            GraftTable.renderGroupValue(sf.dataType, r.get(1)) ->
              r.getLong(2).toString)
          // a value fully deleted simply disappears; zero live non-null
          // rows leave a trusted EMPTY map (the file contributes only
          // its null group, if any)
          fileEntries(f) = fileEntries(f).copy(valueStats =
            if (rendered.forall(_._1 != null))
              fileEntries(f).valueStats + (sf.name -> rendered.toMap)
            else fileEntries(f).valueStats - sf.name)
        }
      }
    }
    rows.foreach { r =>
      val f = r.getString(0)
      val n = r.getLong(r.fieldIndex("_n"))
      val nulls = statF.map { sf =>
        sf.name ->
          (n - r.getLong(r.fieldIndex(s"_nn_${sf.name}"))).toString }.toMap
      val sums = statF.flatMap { sf =>
        if (GraftTable.integralLong(sf.dataType).isDefined) {
          val i = r.fieldIndex(s"_sm_${sf.name}")
          Some(sf.name -> (if (r.isNullAt(i)) 0L
                      else BigDecimal(r.getDecimal(i)).toBigInt.longValue)
            .toString)
        } else GraftTable.decimalSummable(sf.dataType).map { _ =>
          val i = r.fieldIndex(s"_sm_${sf.name}")
          sf.name -> (if (r.isNullAt(i)) "0"
                      else r.getDecimal(i).toPlainString)
        }
      }.toMap
      val (liveBounds, liveExact) = boundsAndExact(statF.map { sf =>
        (sf, r.get(r.fieldIndex(s"_lmn_${sf.name}")),
          r.get(r.fieldIndex(s"_lmx_${sf.name}")))
      })
      // dvAccounted = masked rows actually read; if that ever disagrees
      // with `deletes` the entry stays non-current and keeps declining
      fileEntries(f) = fileEntries(f).copy(dvAccounted = n,
        dvNullStats = nulls, dvSumStats = sums, stats = liveBounds,
        exactBounds = liveExact)
    }
    rows.length
    // under a continuous maintenance cadence these batches recur; the
    // up-to-64MB DV broadcast must not linger until ContextCleaner GC
    } finally bc.destroy()
  }

  /** The DELETED rows' `cols` from files whose masked-row debt crossed
   *  `ratio` (the reference's compaction delete-ratio threshold,
   *  `compaction_config.rs:48-55`) — the targeted input of an
   *  EXTERNAL-index refresh (e.g. a persisted IVF assignment table,
   *  [[graft.operators.IvfIndex]]): O(deleted rows of the crossed
   *  files), never a full corpus scan, and fully distributed (the DV
   *  bitmaps broadcast; the rows never visit the driver). Must run
   *  BEFORE compaction repays the same files' debt — the rewrite
   *  retires their DVs and the masked values are gone. */
  def maskedRows(cols: Seq[String], ratio: Double): DataFrame = synchronized {
    val fields = cols.map(c => schemaVar.fields.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(s"no such column: $c")))
    val crossed = fileEntries.toSeq.collect {
      case (f, e) if e.deletes > 0 &&
          e.deletes.toDouble >= e.rows * ratio && dvMap.contains(f) => f
    }
    if (crossed.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(fields.map(f =>
          StructField(f.name, f.dataType, nullable = true))))
    else {
      val bc = spark.sparkContext.broadcast(
        crossed.map(f => f -> DvCache.serialize(dvMap(f))).toMap)
      val mk = DvCache.deletedUdf(bc)(col("_f"), col("_p"))
      spark.read.schema(physicalSchema)
        .parquet(crossed.map(f => s"$root/data/$f"): _*)
        .select(Seq(
          substring_index(col("_metadata.file_path"), "/", -1).as("_f"),
          col("_metadata.row_index").as("_p")) ++
          fields.map(f => col(SchemaDsl.physicalName(f)).as(f.name)): _*)
        .where(mk)
        .select(cols.map(col): _*)
    }
  }

  def optimize(clusterBy: Seq[String] = Nil,
      zorder: Boolean = false,
      bucketBy: Option[Int] = scala.None): Unit = synchronized {
    flush(); compact(force = true, clusterBy = clusterBy, zorder = zorder,
      bucketBy = bucketBy)
    // light-deleted files survive compaction with their DVs; fold those
    // DVs into the masked accounting so aggregates keep pushing
    refreshDvStats()
    mergeIndexes(); publish()
  }

  /** Threshold-gated periodic maintenance — the body of the daemon's
   *  force-snapshot tick. Unlike [[optimize]] (the user-invoked
   *  ForceFullMaintenance, reference `table_handler.rs:239-320`), every
   *  sub-op here runs only past its own debt threshold, mirroring the
   *  reference where the periodic timer forces SNAPSHOTS while
   *  compaction stays threshold-driven (`compaction_config.rs:48-55`:
   *  ≥N small files / ≥ratio deleted):
   *   - flush+publish only when committed rows still live tail-only;
   *   - `compact(force = false)` (the thresholds at `compact`);
   *   - `refreshDvStats` only when stale delete accounting exists;
   *   - index merge only past `indexMergeFileCountThreshold`;
   *   - vacuum only when any of the above actually ran.
   *  An idle, already-compacted table does NOTHING: zero files
   *  rewritten, zero manifest versions published — a deployed daemon
   *  (tools/Serve) costs an idle table nothing but the checks.
   *  Returns true when any maintenance ran. */
  def maintain(): Boolean = synchronized {
    var changed = false
    if (hasUnflushedCommitted) { flush(); publish(); changed = true }
    changed |= compact(force = false) // publishes internally when it runs
    if (refreshDvStats() > 0) { publish(); changed = true }
    if (identity != Identity.None &&
        indexFiles.size >= config.indexMergeFileCountThreshold)
      changed |= mergeIndexes() // publishes internally
    // bound the manifest log itself (after the sub-ops above have
    // published whatever versions they mint): metadata-only, so it
    // neither rewrites files nor races pinned readers
    if (config.expireKeepVersions > 0 &&
        ManifestLog.versions(root).size > config.expireKeepVersions)
      changed |= expireVersions(config.expireKeepVersions) > 0
    if (changed) vacuum()
    changed
  }

  /** Drop columns (M14, `mooncake_table.rs:616` — the only schema
   *  evolution the reference supports). Data files keep the column on
   *  disk; reads project it away. */
  /** Schema evolution: append a nullable column (reference roadmap item,
   *  `README.md:227` — drop is the only evolution the reference ships;
   *  add composes naturally here because reads project the manifest
   *  schema over the files, so pre-alter parquet yields null for the
   *  new column without rewriting anything). Type names use the REST
   *  grammar (`SchemaDsl.parseType`).
   *
   *  Re-add safety: parquet resolution is by NAME, and drop never
   *  rewrites files, so re-adding a dropped name would resurrect the
   *  old values. The new field gets a monotonically-fresh field id
   *  (persisted `lastFieldId`, never reused) and — when the name was
   *  previously dropped — a unique PHYSICAL name, so every read of
   *  pre-alter files yields null for it (see physicalSchema). */
  def alterAddColumn(name: String, typeName: String): Unit = synchronized {
    require(!schemaVar.fieldNames.contains(name), s"column $name exists")
    // belt and braces for manifests written before stats stripping
    // landed on the drop/rename verbs: a re-added name must never
    // inherit a predecessor column's per-file stats
    stripColumnStats(Set(name))
    // FullRow identity derives the key set from the schema; widening it
    // would desync persisted index files written with the old key
    // schema (resolveCommittedDeletes joins on keyFields names)
    require(identity != Identity.FullRow,
      "alterAddColumn unsupported on full-row-identity tables")
    lastFieldIdVar = math.max(lastFieldIdVar, SchemaDsl.maxFieldId(schemaVar)) + 1L
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SchemaDsl.FieldIdKey, lastFieldIdVar)
    if (droppedColsVar.contains(name))
      mb.putString(SchemaDsl.PhysicalKey, s"${name}_$lastFieldIdVar")
    val fld = SchemaDsl.field(name, typeName).copy(metadata = mb.build())
    schemaVar = StructType(schemaVar.fields :+ fld)
    keyIdx = keyCols.map(schemaVar.fieldIndex)
    // widen buffered rows (mem slice + staged xact buffers) in place
    def widen(trs: mutable.ArrayBuffer[TailRow]): Unit =
      trs.mapInPlace { tr =>
        val ntr = new TailRow(Row.fromSeq(tr.row.toSeq :+ null), tr.lsn)
        ntr.deletedLsn = tr.deletedLsn
        ntr
      }
    widen(tail)
    tailIndex.clear()
    tail.foreach(tr => stackPush(tailIndex, keyOf(tr.row), tr))
    xacts.values.foreach { x =>
      widen(x.buffer)
      x.index.clear()
      x.buffer.foreach(tr => stackPush(x.index, keyOf(tr.row), tr))
    }
    publish()
  }

  /** Remove per-file stats/null accounting for the given LOGICAL
   *  columns. Stats maps are keyed by logical name, so a drop (or a
   *  re-add after drop/rename, which maps to a FRESH physical column
   *  old files read as all-NULL) would otherwise leave stale entries
   *  that IS NULL pruning and COUNT(col) pushdown trust — turning
   *  stale metadata into wrong answers. Min/max staleness was
   *  comparison-safe (NULL matches nothing); null counts are not. */
  private def stripColumnStats(cols: Set[String]): Unit =
    fileEntries.keys.toSeq.foreach { k =>
      val e = fileEntries(k)
      if (cols.exists(c => e.stats.contains(c) || e.nullStats.contains(c) ||
          e.sumStats.contains(c) || e.dvNullStats.contains(c) ||
          e.dvSumStats.contains(c) || e.valueStats.contains(c)) ||
          e.exactBounds.exists(cols))
        fileEntries(k) = e.copy(stats = e.stats -- cols,
          nullStats = e.nullStats -- cols, sumStats = e.sumStats -- cols,
          dvNullStats = e.dvNullStats -- cols,
          dvSumStats = e.dvSumStats -- cols,
          exactBounds = e.exactBounds.filterNot(cols),
          valueStats = e.valueStats -- cols)
    }

  /** Re-key per-file stats on a rename: the data is the same physical
   *  column, so its bounds/null counts stay valid under the new name. */
  private def rekeyColumnStats(from: String, to: String): Unit =
    fileEntries.keys.toSeq.foreach { k =>
      val e = fileEntries(k)
      def rekey(m: Map[String, String]): Map[String, String] =
        m.get(from).map(v => m - from + (to -> v)).getOrElse(m)
      if (e.stats.contains(from) || e.nullStats.contains(from) ||
          e.sumStats.contains(from) || e.dvNullStats.contains(from) ||
          e.dvSumStats.contains(from) || e.exactBounds.contains(from) ||
          e.valueStats.contains(from))
        fileEntries(k) = e.copy(
          stats = e.stats.get(from)
            .map(v => e.stats - from + (to -> v)).getOrElse(e.stats),
          nullStats = rekey(e.nullStats), sumStats = rekey(e.sumStats),
          dvNullStats = rekey(e.dvNullStats),
          dvSumStats = rekey(e.dvSumStats),
          exactBounds = e.exactBounds.map(c => if (c == from) to else c),
          valueStats = e.valueStats.get(from)
            .map(v => e.valueStats - from + (to -> v))
            .getOrElse(e.valueStats))
    }

  def alterDropColumns(cols: Seq[String]): Unit = synchronized {
    require(cols.forall(c => !keyCols.contains(c)), "cannot drop key columns")
    stripColumnStats(cols.toSet)
    // the dropped columns' PHYSICAL names may survive in live files;
    // record them so a re-add of the same name maps to a fresh one
    schemaVar.fields.filter(f => cols.contains(f.name))
      .map(SchemaDsl.physicalName)
      .foreach(p => if (!droppedColsVar.contains(p)) droppedColsVar += p)
    val keepIdx = schemaVar.fields.zipWithIndex
      .collect { case (f, i) if !cols.contains(f.name) => i }.toSeq
    schemaVar = StructType(keepIdx.map(schemaVar.fields))
    keyIdx = keyCols.map(schemaVar.fieldIndex)
    // project buffered rows (mem slice + staged xact buffers) in place
    def reproject(trs: mutable.ArrayBuffer[TailRow]): Unit =
      trs.mapInPlace { tr =>
        val ntr = new TailRow(Row.fromSeq(keepIdx.map(tr.row.get)), tr.lsn)
        ntr.deletedLsn = tr.deletedLsn
        ntr
      }
    reproject(tail)
    tailIndex.clear()
    // dead rows stay on the stacks as duplicate-delivery blockers
    tail.foreach(tr => stackPush(tailIndex, keyOf(tr.row), tr))
    xacts.values.foreach { x =>
      reproject(x.buffer)
      x.index.clear()
      x.buffer.foreach(tr => stackPush(x.index, keyOf(tr.row), tr))
    }
    publish()
  }

  /** Rename a column (M14 family, the metadata-only half real table
   *  formats ship beside add/drop): the LOGICAL name changes, the
   *  PHYSICAL name stays what the live files carry, so no data is
   *  rewritten — reads keep projecting physical -> logical and writes
   *  keep emitting the physical name (the same seam alterAddColumn's
   *  re-add path uses). The old name's physical identity is recorded
   *  as dropped so a later alterAddColumn of the old name maps to a
   *  FRESH physical name instead of resurrecting the renamed column's
   *  stored values. */
  def alterRenameColumn(from: String, to: String): Unit = synchronized {
    require(schemaVar.fieldNames.contains(from), s"no such column: $from")
    require(!schemaVar.fieldNames.contains(to), s"column $to exists")
    // key names thread through index parquet columns and delete
    // resolution; FullRow identity derives its key set from the schema
    require(!keyCols.contains(from), "cannot rename key columns")
    require(identity != Identity.FullRow,
      "alterRenameColumn unsupported on full-row-identity tables")
    val i = schemaVar.fieldIndex(from)
    val f = schemaVar.fields(i)
    val phys = SchemaDsl.physicalName(f)
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putString(SchemaDsl.PhysicalKey, phys)
    schemaVar = StructType(
      schemaVar.fields.updated(i, f.copy(name = to, metadata = mb.build())))
    if (!droppedColsVar.contains(phys)) droppedColsVar += phys
    rekeyColumnStats(from, to)
    // buffered rows are positional; nothing to rewrite
    publish()
  }

  /** Widen a column's type in place (int32->int64, float32->float64 —
   *  the safe promotions Iceberg/Delta type-widening allows). Metadata
   *  only: live files keep their narrow physical type and the parquet
   *  reader widens at scan time (Spark 4 reads INT32 pages under a
   *  LongType read schema); new files are written at the wide type.
   *  Buffered tail/xact rows widen their boxed values in place so the
   *  next flush writes the wide type. */
  def alterWidenColumn(name: String, typeName: String): Unit = synchronized {
    require(schemaVar.fieldNames.contains(name), s"no such column: $name")
    // a key column's width threads through persisted index files and
    // delete-resolution joins; widening it would desync them
    require(!keyCols.contains(name), "cannot widen key columns")
    require(identity != Identity.FullRow,
      "alterWidenColumn unsupported on full-row-identity tables")
    val i = schemaVar.fieldIndex(name)
    val f = schemaVar.fields(i)
    val target = SchemaDsl.parseType(typeName)
    import org.apache.spark.sql.types._
    val ok = (f.dataType, target) match {
      case (IntegerType, LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(ok, s"unsupported widening ${f.dataType.simpleString} -> " +
      target.simpleString)
    schemaVar = StructType(schemaVar.fields.updated(i, f.copy(dataType = target)))
    def widenVal(v: Any): Any = v match {
      case null => null
      case x: java.lang.Short if target == IntegerType => x.intValue()
      case x: java.lang.Short => x.longValue()
      case x: java.lang.Integer => x.longValue()
      case x: java.lang.Float => x.doubleValue()
      case other => other
    }
    def widenRows(trs: mutable.ArrayBuffer[TailRow]): Unit =
      trs.mapInPlace { tr =>
        val vs = tr.row.toSeq.updated(i, widenVal(tr.row.get(i)))
        val ntr = new TailRow(Row.fromSeq(vs), tr.lsn)
        ntr.deletedLsn = tr.deletedLsn
        ntr
      }
    widenRows(tail)
    tailIndex.clear()
    tail.foreach(tr => stackPush(tailIndex, keyOf(tr.row), tr))
    xacts.values.foreach { x =>
      widenRows(x.buffer)
      x.index.clear()
      x.buffer.foreach(tr => stackPush(x.index, keyOf(tr.row), tr))
    }
    publish()
  }

  /** Bulk parquet load (S7): adopt existing parquet files as table data
   *  without rewriting; index built unless append-only (reference
   *  `batch_ingestion.rs:71,166`). One metadata job covers every
   *  per-file row count — not a driver loop of one job per file. */
  /**
   * Streaming-sink epoch commit (exactly-once): append `events`
   * (an `_op`/`_lsn`-shaped frame of "i" rows) iff `epochId` has not
   * been committed to this table yet. The epoch watermark rides the
   * SAME manifest commit as the data (`Manifest.streamEpochs`), so a
   * crash between data and watermark is impossible and a micro-batch
   * replay after restart no-ops. Returns whether the epoch committed.
   */
  def applyEpochDF(events: DataFrame, epochId: Long,
      queryId: String = ""): Boolean = synchronized {
    if (epochId < queryEpochsVar.getOrElse(queryId, 0L)) false
    else {
      // the watermark advances in the same publish as the data; if the
      // apply FAILS, resync the in-memory mark from the DURABLE
      // manifest — a failure before the publish rolls back (the
      // in-handle retry re-applies), a failure after it keeps the
      // advanced mark (the retry no-ops) — exactly-once either way.
      // The gate is PER QUERY ID (epoch ids are per-checkpoint batch
      // ids starting at 0; a second query or a fresh-checkpoint
      // restart must not have its early epochs skipped as replays).
      queryEpochsVar = queryEpochsVar.updated(queryId, epochId + 1)
      streamEpochsVar = math.max(streamEpochsVar, epochId + 1)
      try {
        val lsn = math.max(commitLsnVar, 0L) + 1
        applyBatchDF(events.withColumn("_lsn", lit(lsn)), lsn,
          hasDeletes = false)
      } catch { case e: Throwable =>
        resyncEpochMarks()
        throw e
      }
      true
    }
  }

  private def resyncEpochMarks(): Unit = {
    val m = ManifestLog.loadLatest(root)
    streamEpochsVar = m.map(_.streamEpochs).getOrElse(0L)
    queryEpochsVar = m.map(_.queryEpochs).getOrElse(Map.empty)
  }

  /**
   * Streaming CDC-sink epoch commit: apply an `_op`/`_lsn`-tagged
   * event frame (upserts AND deletes, source-assigned LSNs) iff
   * `epochId` is new — the keyed-table sibling of [[applyEpochDF]],
   * with the same manifest-borne exactly-once watermark. The batch
   * commits at the frame's max LSN.
   */
  def applyEpochCdcDF(events: DataFrame, epochId: Long,
      queryId: String = ""): Boolean =
    synchronized {
      if (epochId < queryEpochsVar.getOrElse(queryId, 0L)) false
      else {
        queryEpochsVar = queryEpochsVar.updated(queryId, epochId + 1)
        streamEpochsVar = math.max(streamEpochsVar, epochId + 1)
        try {
          // an at-least-once CDC source re-reading from its confirmed
          // position resends already-committed LSNs in a FRESH epoch;
          // drop them before the fold (the reference sink dedups by
          // source LSN the same way) so replays no-op instead of
          // rewriting redundant row versions
          val fresh = events.filter(col("_lsn").cast("long") > commitLsnVar)
          val mx = fresh.agg(max(col("_lsn").cast("long"))).head()
          if (!mx.isNullAt(0)) // empty epoch: just advance the watermark
            applyBatchDF(fresh, mx.getLong(0), hasDeletes = true)
          else publish()
        } catch { case e: Throwable =>
          // resync from the durable manifest (see applyEpochDF)
          resyncEpochMarks()
          throw e
        }
        true
      }
    }

  /** TRUNCATE: drop every live row (committed, buffered, and pending
   *  deletes) as ONE metadata-only commit — the new manifest version
   *  has an empty file set, old versions stay readable (snapshot
   *  isolation) and vacuum reclaims the storage at its own cadence.
   *  O(manifest) driver work at any table size, like restore. */
  def truncate(): Long = synchronized {
    require(xacts.isEmpty, "open streaming transactions; commit or abort first")
    val maxBuffered = maxLiveLsn
    clearLiveState()
    // the truncate commit outranks EVERY event the WAL may still hold
    // (buffered-but-unflushed rows can carry caller-supplied LSNs above
    // the old commit), so a crash between the publish and the WAL
    // delete below cannot resurrect them through replay — the replay
    // gate skips lsn <= flushLsn
    commitLsnVar = math.max(maxBuffered, 0L) + 1
    flushLsnVar = commitLsnVar
    val v = publish()
    dropWal()
    v
  }

  /** INSERT OVERWRITE: replace the whole table content with the staged
   *  part files in ONE atomic manifest commit — a crash before the
   *  publish leaves the previous version intact (the truncate half and
   *  the adopt half can never be observed separately). */
  def overwriteFiles(files: Seq[String], lsn: Long): Unit = synchronized {
    require(xacts.isEmpty, "open streaming transactions; commit or abort first")
    val maxBuffered = maxLiveLsn
    clearLiveState()
    // see truncate(): the commit watermarks must outrank any stale WAL
    // event so the post-publish WAL delete is safe to lose to a crash
    commitLsnVar = math.max(commitLsnVar, maxBuffered)
    flushLsnVar = math.max(flushLsnVar, maxBuffered)
    loadFiles(files, lsn) // publishes truncate + adopt as one version
    dropWal()
  }

  /** Delete the whole WAL; every segment is forgotten with it. */
  private def dropWal(): Unit = {
    Fio.delete(Wal.walDir(root))
    walSegments.clear()
  }

  /** Highest LSN observable anywhere in live state — committed or
   *  buffered (tail rows carry caller-supplied LSNs that may exceed the
   *  commit watermark before their Commit arrives). */
  private def maxLiveLsn: Long =
    (Seq(commitLsnVar, flushLsnVar) ++ tail.map(_.lsn) ++
      pendingDeletes.map(_._2)).max

  /** Clears in-memory + manifest-derived live state WITHOUT touching
   *  durable artifacts: the caller publishes the cleared state first
   *  and only then deletes the WAL, so a crash at any instant leaves
   *  either the old table (manifest unchanged, WAL intact) or the new
   *  one (stale WAL events outranked by the bumped watermarks) —
   *  never a torn middle. */
  private def clearLiveState(): Unit = {
    tail.clear(); tailIndex.clear()
    pendingDeletes.clear(); newDvPairs.clear()
    fileEntries.clear(); dvFiles.clear(); indexFiles.clear()
    dvMap.clear(); dvBroadcast = scala.None
    bucketNVar = 0L
  }

  def loadFiles(files: Seq[String], lsn: Long): Unit = synchronized {
    Fio.mkdirs(s"$root/data")
    val renamed = files.map { src =>
      val name = f"data-${newId()}%09d.parquet"
      if (!hasColumnMapping) Fio.move(src, s"$root/data/$name")
      else {
        // external files carry LOGICAL column names; with a physical
        // mapping active the file must be rewritten once so its
        // re-added column is not shadowed by the name seam (rare: only
        // tables that re-added a dropped column pay this)
        val tmp = s"$root/tmp/${UUID.randomUUID()}"
        spark.read.schema(schemaVar).parquet(src)
          .select(schemaVar.fields.toSeq.map(f =>
            col(f.name).as(SchemaDsl.physicalName(f))): _*)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        movePartFile(tmp, s"$root/data/$name")
        Fio.delete(src)
      }
      name
    }
    val counts = spark.read.schema(physicalSchema)
      .parquet(renamed.map(n => s"$root/data/$n"): _*)
      .groupBy(substring_index(col("_metadata.file_path"), "/", -1).as("_f"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (kept, empty) = renamed.partition(n => counts.getOrElse(n, 0L) > 0L)
    empty.foreach(n => Fio.delete(s"$root/data/$n"))
    kept.foreach(n => fileEntries(n) =
      DataFileEntry(n, counts(n), Fio.sizeOf(s"$root/data/$n"), lsn))
    if (identity != Identity.None && kept.nonEmpty) {
      Fio.mkdirs(s"$root/index")
      // loaded rows exist as of the load LSN: earlier deletes must not
      // target them, later ones match via _lsn < _dlsn
      indexFiles += buildIndex(s"$root/data", kept,
        s"$root/index", lsnValue = lsn)
    }
    commitLsnVar = math.max(commitLsnVar, lsn)
    flushLsnVar = math.max(flushLsnVar, lsn)
    publish()
  }

  /** Initial table copy (S2): adopt a snapshot of an existing source
   *  table as this table's base state at `boundaryLsn` — the Spark
   *  shape of the reference's CTID-sharded parallel COPY (the snapshot
   *  frame's partitions ARE the shards; `initial_copy.rs:57-219`,
   *  `postgres_source.rs:339`). CDC catch-up then applies events with
   *  lsn > boundaryLsn on top; snapshot rows carry the boundary LSN so
   *  later deletes resolve against them LSN-exactly. */
  def initialCopy(snapshot: DataFrame, boundaryLsn: Long): Long = synchronized {
    require(fileEntries.isEmpty && tail.isEmpty && xacts.isEmpty,
      "initial copy requires an empty table")
    val ev = snapshot.select(
      lit("i").as("_op") +: lit(boundaryLsn).as("_lsn") +:
      schemaVar.fieldNames.toSeq.map(col): _*)
    applyBatchDF(ev, boundaryLsn, hasDeletes = false)
  }

  /** Drop table (M13, reference `table_handler.rs:158-185`). */
  def drop(): Unit = synchronized { detachCache(); Fio.delete(root) }

  private def dvSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))
}

/**
 * Executor-side cache of deserialized deletion-vector bitmaps: the
 * broadcast carries roaring-SERIALIZED bytes (compact on the wire, like
 * the reference's puffin roaring blobs, `iceberg/deletion_vector.rs:29`);
 * each executor JVM deserializes once per broadcast, and row-level
 * membership tests hit the shared bitmaps.
 */
object DvCache {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Roaring64Bitmap]]()

  def serialize(bm: Roaring64Bitmap): Array[Byte] = {
    bm.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    bm.serialize(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Roaring64Bitmap = {
    val bm = new Roaring64Bitmap
    bm.deserialize(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    bm
  }

  def bitmaps(bc: Broadcast[Map[String, Array[Byte]]]): Map[String, Roaring64Bitmap] = {
    if (cache.size > 8) cache.clear() // old broadcast generations
    cache.computeIfAbsent(bc.id,
      _ => bc.value.map { case (f, b) => f -> deserialize(b) })
  }

  /** (file, pos) => row NOT deleted. The closure captures only the
   *  broadcast handle — never the table. */
  def notDeletedUdf(bc: Broadcast[Map[String, Array[Byte]]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((file: String, pos: Long) =>
      !bitmaps(bc).get(file).exists(_.contains(pos)))

  /** (file, pos) => row IS deleted — refreshDvStats' twin of
   *  notDeletedUdf; same capture rule (broadcast handle only). */
  def deletedUdf(bc: Broadcast[Map[String, Array[Byte]]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((file: String, pos: Long) =>
      bitmaps(bc).get(file).exists(_.contains(pos)))
}

/** Per-partition (rowCount, mins, maxs) side-channel for the fused
 *  index+stats flush pass: keyed LAST-WRITE-WINS by partition id, so
 *  task retries and speculative duplicates (identical deterministic
 *  partition content) merge idempotently — a summing accumulator
 *  would double-count, this one cannot. */
private[graft] final class PartStatsAcc
    extends org.apache.spark.util.AccumulatorV2[
      (Int, Long, Seq[Any], Seq[Any], Seq[Long], Seq[String],
        Seq[Map[String, String]]),
      Map[Int, (Long, Seq[Any], Seq[Any], Seq[Long], Seq[String],
        Seq[Map[String, String]])]] {
  private val m = scala.collection.mutable
    .Map[Int, (Long, Seq[Any], Seq[Any], Seq[Long], Seq[String],
      Seq[Map[String, String]])]()
  override def isZero: Boolean = m.isEmpty
  override def copy(): PartStatsAcc = {
    val a = new PartStatsAcc; a.m ++= m; a
  }
  override def reset(): Unit = m.clear()
  override def add(
      v: (Int, Long, Seq[Any], Seq[Any], Seq[Long], Seq[String],
        Seq[Map[String, String]])): Unit =
    m(v._1) = (v._2, v._3, v._4, v._5, v._6, v._7)
  override def merge(other: org.apache.spark.util.AccumulatorV2[
      (Int, Long, Seq[Any], Seq[Any], Seq[Long], Seq[String],
        Seq[Map[String, String]]),
      Map[Int, (Long, Seq[Any], Seq[Any], Seq[Long], Seq[String],
        Seq[Map[String, String]])]]): Unit =
    other.value.foreach { case (k, v) => m(k) = v }
  override def value
      : Map[Int, (Long, Seq[Any], Seq[Any], Seq[Long], Seq[String],
        Seq[Map[String, String]])] = m.toMap
}

/** Per-partition file statistics carried from a fold/stats pass into
 *  `writeBatchFiles`: row count, [min,max] bounds, null counts and
 *  integral sums per stats column (nulls power manifest-only
 *  COUNT(col) and IsNull/IsNotNull file pruning; sums power
 *  manifest-only SUM(col) — wrapping 64-bit partials recombine to
 *  exactly Spark's non-ANSI total). */
private[graft] final case class PartFileStats(rows: Long,
    stats: Map[String, Seq[String]], nulls: Map[String, String],
    sums: Map[String, String] = Map.empty,
    // string columns whose bounds were NOT truncated/lifted (exact
    // data values) — becomes DataFileEntry.exactBounds
    exact: Seq[String] = Seq.empty,
    // bounded per-value row counts — becomes DataFileEntry.valueStats
    values: Map[String, Map[String, String]] = Map.empty)

object GraftTable {
  /** Value-semantics wrapper for key column values — the mem-index key
   *  (reference `MemIndex`, `mem_index.rs:38`). */
  final case class KeyVal(values: Seq[Any])

  /** The engine's one driver-side definition of the storage key hash:
   *  xxhash64 (seed 42) of key values given in `fields` order, as their
   *  Row-side values. It evaluates the SAME Catalyst `XxHash64` the
   *  DataFrame `xxhash64(...)` column compiles to, over the fields'
   *  actual types (values converted through `CatalystTypeConverters`,
   *  so e.g. a decimal takes its column's scale), so it equals what a
   *  Spark job computes over the persisted columns: bucket routing,
   *  index khRange coverage and the delete-resolution hash filter agree
   *  with the cluster by construction. */
  private[graft] def keyHashEval(fields: Seq[StructField]): Seq[Any] => Long = {
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, XxHash64}
    val hash = XxHash64(fields.zipWithIndex.map { case (f, j) =>
      BoundReference(j, f.dataType, nullable = true): Expression }, 42L)
    val convs = fields.map(f =>
      CatalystTypeConverters.createToCatalystConverter(f.dataType))
    (vs: Seq[Any]) => hash.eval(InternalRow.fromSeq(
      vs.lazyZip(convs).map((v, c) => c(v)))).asInstanceOf[Long]
  }

  /** Proxy tables depend only on the partition count and cost expected
   *  O(m^2) murmur3 probes to derive — memoized process-wide so
   *  continuous micro-batch ingest never recomputes them. */
  private[table] val proxyCache =
    scala.collection.concurrent.TrieMap.empty[Int, Seq[Long]]

  /** Extractor to Long for the integral types whose per-file sums are
   *  exact under 64-bit wrapping accumulation (what Spark's non-ANSI
   *  SUM computes); None = not summable from stats. */
  private[graft] def integralLong(dt: DataType): Option[Any => Long] =
    dt match {
      case LongType    => Some(v => v.asInstanceOf[Long])
      case IntegerType => Some(v => v.asInstanceOf[Int].toLong)
      case ShortType   => Some(v => v.asInstanceOf[Short].toLong)
      case ByteType    => Some(v => v.asInstanceOf[Byte].toLong)
      case _           => scala.None
    }

  /** Decimal columns whose per-file sums are recorded EXACTLY: fixed
   *  scale makes BigDecimal addition exact in every order, and p+10 ≤
   *  38 matches Spark's own SUM buffer headroom (DecimalType.bounded(p
   *  + 10, s)) so a per-file total over ≤10^10 rows can never outgrow
   *  the encoding the read-back jobs accumulate in (decimal(38, s)).
   *  Wider decimals simply record no sum — aggregate pushdown declines
   *  to the scan, never a wrong answer. */
  private[graft] def decimalSummable(dt: DataType): Option[DecimalType] =
    dt match {
      case d: DecimalType if d.precision + 10 <= DecimalType.MAX_PRECISION =>
        Some(d)
      case _ => scala.None
    }

  private[graft] def toJavaBD(v: Any): java.math.BigDecimal = v match {
    case b: java.math.BigDecimal => b
    case b: scala.math.BigDecimal => b.bigDecimal
    case n: java.lang.Number => new java.math.BigDecimal(n.toString)
  }

  /** Mutable per-partition exact-sum cell for the stats passes.
   *  Integral columns accumulate in wrapping 64-bit arithmetic (the
   *  associative group Spark's non-ANSI SUM partials live in); decimal
   *  columns in exact fixed-scale BigDecimal. `render` is the
   *  manifest's string encoding (`DataFileEntry.sumStats`). */
  private[graft] abstract class StatSummer extends Serializable {
    def add(v: Any): Unit
    def render: String
  }

  /** Factory per stats column; None = the type records no sums. The
   *  factory (not the cell) is what task closures capture, so each
   *  partition gets fresh state. */
  private[graft] def statSummer(dt: DataType): Option[() => StatSummer] =
    integralLong(dt) match {
      case Some(fn) => Some(() => new StatSummer {
        private var s = 0L
        def add(v: Any): Unit = s += fn(v)
        def render: String = s.toString
      })
      case scala.None => decimalSummable(dt).map(_ => () => new StatSummer {
        private var s = java.math.BigDecimal.ZERO
        def add(v: Any): Unit = s = s.add(toJavaBD(v))
        def render: String = s.toPlainString
      })
    }

  /** Per-file distinct-value cap for `DataFileEntry.valueStats`: a
   *  column with more file-local distinct values than this records no
   *  per-value accounting (GROUP BY on it keeps the scan). Small on
   *  purpose — the accounting targets low-cardinality dimension
   *  columns (status, tenant, shard, category), and a bounded map
   *  keeps both the write-path counter and the manifest O(1) per
   *  column per file at any table size. */
  private[graft] val ValueStatsCap = 8

  /** Exact manifest encoding of a single value for per-value
   *  accounting, or None when the rendering could be ambiguous:
   *  strings above the same 32-code-point bound as exact stats
   *  (arbitrarily long values would embed whole documents in the
   *  manifest), and float/double entirely (NaN/-0.0 group-equality
   *  differs from rendered-string equality). Everything recorded
   *  round-trips through `parseStat` to a value Spark's GROUP BY
   *  treats as equal to the original.
   *
   *  Timezone contract (ADVICE r17): timestamp keys render via
   *  `java.sql.Timestamp.toString`, which depends on the JVM default
   *  timezone — the SAME convention the range stats (`statBounds` /
   *  `parseStat`) have always used, so one fixed deployment timezone
   *  across writer and reader processes is assumed for ALL stat
   *  strings, not just these keys (this repo pins UTC:
   *  `-Dspark.sql.session.timeZone=UTC` + the bench/test launchers).
   *  Equality-based decisions (valueSetMayContain, partial group
   *  cells) would misread keys written under a different JVM TZ, so a
   *  TZ migration requires refreshDvStats to rewrite recorded maps —
   *  or switching this rendering to epoch micros, which would orphan
   *  every already-written map the same way. */
  private[graft] def renderGroupValue(dt: DataType, v: Any): String =
    dt match {
      case _: StringType =>
        val s = v.toString
        if (s.codePointCount(0, s.length) <= 32) s else null
      case _: IntegerType | _: LongType | _: ShortType | _: BooleanType |
           _: DateType | _: TimestampType => v.toString
      case _: DecimalType => toJavaBD(v).toPlainString
      case _ => null
    }

  private[graft] def valueCountable(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: BooleanType |
         _: DateType | _: TimestampType | _: DecimalType |
         _: StringType => true
    case _ => false
  }

  /** Mutable per-partition bounded distinct-value row counter for the
   *  stats passes — dead (null result) once the cap is exceeded or a
   *  value renders inexactly. Like [[StatSummer]], the FACTORY is what
   *  task closures capture, so each partition gets fresh state.
   *
   *  Hot-path discipline: this runs once per row per stats column in
   *  every ingest loop, so the per-row cost is a linear equals-scan
   *  over ≤cap live keys on the RAW value — zero allocation, zero
   *  rendering. Rendering (and the string ≤32-cp eligibility check)
   *  happens only on INSERT of a new key (≤cap+1 times per file) and
   *  at the final `render`. A high-cardinality column dies on its
   *  (cap+1)-th distinct value, degrading to one dead-check per row. */
  private[graft] final class ValueCounter(dt: DataType) {
    private val keys = new Array[Any](ValueStatsCap)
    private val counts = new Array[Long](ValueStatsCap)
    private var n = 0
    private var dead = false
    def add(v: Any): Unit = {
      if (dead) return
      var i = 0
      while (i < n) {
        if (keys(i) == v) { counts(i) += 1L; return }
        i += 1
      }
      if (n >= ValueStatsCap || renderGroupValue(dt, v) == null) dead = true
      else { keys(n) = v; counts(n) = 1L; n += 1 }
    }
    /** col's rendered map, or null when the column overflowed the cap */
    def render: Map[String, String] =
      if (dead) null
      else (0 until n).map(i =>
        renderGroupValue(dt, keys(i)) -> counts(i).toString).toMap
  }

  private[graft] def valueCounterMk(dt: DataType): Option[() => ValueCounter] =
    if (valueCountable(dt)) Some(() => new ValueCounter(dt)) else scala.None

  /** Ordinals of every [mn, mx] range covering `kh`, over ranges sorted
   *  by `mn` with `pm` the running prefix max of `mx`: one binary search
   *  for the last range whose min covers, then a backward sweep that
   *  stops as soon as no earlier range's max can still cover. Extracted
   *  so the executor-side covering probe in `resolveDeletesDistributed`
   *  is property-testable against the naive linear filter. */
  private[graft] def coveringOrdinals(kh: Long, mn: Array[Long],
      mx: Array[Long], ord: Array[Int], pm: Array[Long]): Seq[Int] = {
    var lo = 0; var hi = mn.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (mn(mid) <= kh) lo = mid + 1 else hi = mid
    }
    val out = mutable.ArrayBuffer[Int]()
    var i = lo - 1
    while (i >= 0 && pm(i) >= kh) {
      if (mx(i) >= kh) out += ord(i)
      i -= 1
    }
    out.toSeq
  }

  /**
   * Per-partition fold of a key-clustered, (key, lsn, delete-first)-
   * sorted event iterator — the distributed equivalent of the driver
   * tail + mem-index walk in `applyInternal` (reference mem-slice
   * semantics, `mem_slice.rs:49-117`: the index points at the LATEST
   * append of a key; a delete kills that row or, with nothing live
   * in-batch, falls through to the committed table).
   *
   * Input row layout: (_op, _lsn, data...). Output: ("a", lsn, data...)
   * for surviving appends; ("d", lsn, keydata...) for fall-through
   * deletes. O(1) state per key — shadowed appends (an insert over an
   * un-deleted insert of the same key) emit immediately because only
   * the latest append is ever reachable by a delete.
   */
  private[table] def foldBatchPartition(keyPos: Array[Int], nData: Int)(
      it: Iterator[Row]): Iterator[Row] = new Iterator[Row] {
    private var pending: List[Row] = Nil
    private var curKey: Seq[Any] = null
    private var haveKey = false
    private var current: Row = null // latest live in-batch append (folded)
    // the key's latest in-batch append died: later deletes of the key
    // are duplicate deliveries and no-op instead of falling through
    // (same blocker rule as stackMark / resolveCommittedDeletes)
    private var curDead = false

    private def keyOfRow(r: Row): Seq[Any] =
      keyPos.toSeq.map(i => r.get(2 + i))
    private def survivor(lsn: Long, r: Row): Row =
      Row.fromSeq("a" +: lsn +: (0 until nData).map(i => r.get(2 + i)))
    private def fallThrough(lsn: Long, r: Row): Row = {
      val data = Array.fill[Any](nData)(null)
      keyPos.foreach(i => data(i) = r.get(2 + i))
      Row.fromSeq("d" +: lsn +: data.toSeq)
    }
    private def closeGroup(): Unit =
      if (current != null) { pending ::= current; current = null }

    @annotation.tailrec
    private def advance(): Unit =
      if (pending.isEmpty && it.hasNext) {
        val r = it.next()
        val k = keyOfRow(r)
        if (!haveKey || k != curKey) {
          closeGroup(); curKey = k; haveKey = true; curDead = false
        }
        val lsn = r.getLong(1)
        r.getString(0) match {
          case "i" | "insert" =>
            if (current != null) pending ::= current // shadowed: emit now
            current = survivor(lsn, r); curDead = false
          case "u" | "upsert" =>
            if (current != null) current = null // delete-half kills it
            else if (!curDead) pending ::= fallThrough(lsn, r)
            current = survivor(lsn, r); curDead = false
          case _ => // d | delete
            if (current != null) { current = null; curDead = true }
            else if (!curDead) pending ::= fallThrough(lsn, r)
        }
        advance()
      }

    override def hasNext: Boolean = {
      advance()
      if (pending.isEmpty && !it.hasNext) closeGroup()
      pending.nonEmpty
    }
    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      val h = pending.head; pending = pending.tail; h
    }
  }

  /** Delete files a crashed operation left behind that the recovered
   *  manifest does not reference. Only called at open time: no reader
   *  can hold a pre-crash plan, so unreferenced == garbage (compact
   *  victims awaiting vacuum included — reopen supersedes vacuum). */
  /** Age-gated crash-debris sweep at open(): only entries older than
   *  `graceMs` are reclaimed, so opening a table for a one-statement
   *  SQL verb can never race a LIVE concurrent writer — a streaming
   *  sink's `tmp/sink-<queryId>` staging mid-epoch or another writer's
   *  just-moved, not-yet-committed file is young and survives.
   *  Immediate reclamation is vacuum()'s job. */
  private def sweepOrphans(root: String, m: Manifest, graceMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - graceMs
    def stale(p: String): Boolean = Fio.modTime(p).forall(_ <= cutoff)
    val live: Set[String] = (m.dataFiles.map(_.path) ++ m.dvFiles ++
      m.indexFiles.map(_.path)).toSet
    Seq("data", "index", "dv").foreach { sub =>
      Fio.list(s"$root/$sub").foreach { n =>
        if (!live.contains(n) && stale(s"$root/$sub/$n"))
          Fio.delete(s"$root/$sub/$n")
      }
    }
    Seq("manifest", "wal").foreach { sub =>
      Fio.list(s"$root/$sub").filter(_.endsWith(".tmp"))
        .foreach { n =>
          if (stale(s"$root/$sub/$n")) Fio.delete(s"$root/$sub/$n")
        }
    }
    Fio.list(s"$root/tmp").foreach { n =>
      if (stale(s"$root/tmp/$n")) Fio.delete(s"$root/tmp/$n")
    }
  }

  def create(spark: SparkSession, root: String, schema: StructType,
      identity: Identity, config: TableConfig = TableConfig()): GraftTable = {
    require(!Fio.exists(s"$root/manifest"), s"table already exists at $root")
    Fio.mkdirs(s"$root/data"); Fio.mkdirs(s"$root/manifest")
    val keyCols = Identity.keyColumns(identity, schema.fieldNames.toSeq)
    keyCols.foreach(c =>
      require(schema.fieldNames.contains(c), s"no such key column: $c"))
    val m = Manifest.empty(schema, keyCols)
      .copy(lastFieldId = graft.model.SchemaDsl.maxFieldId(schema))
    ManifestLog.commit(root, m)
    new GraftTable(spark, root, m, identity, config)
  }

  /** Open from durable state: manifest is the source of truth; WAL
   *  events past the manifest's commit LSN are replayed (M12; reference
   *  recovery `moonlink_backend/src/recovery_utils.rs`). */
  def open(spark: SparkSession, root: String, identity: Identity,
      config: TableConfig = TableConfig()): GraftTable =
      Metrics.time("graft.table_recovery_latency", root) {
    val m = ManifestLog.loadLatest(root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val t = new GraftTable(spark, root, m, identity, config)
    t.loadDvState()
    // staged (pre-commit) xact files are rebuilt from the WAL; stale
    // staging from a crash is garbage
    Fio.delete(s"$root/staged")
    // recovery sweep: a crash between a file move and the manifest
    // commit leaves orphans in data/index/dv (plus stray .tmp files
    // from torn atomic writes and abandoned job dirs under tmp/).
    // They are invisible to the recovered manifest but COLLIDE with
    // reissued file ids — nextFileId derives from manifest names, so
    // the next flush would rename onto the orphan and fail. WAL replay
    // rewrites their contents; sweep BEFORE replay. (The reference's
    // recovery likewise deletes uncommitted files,
    // `moonlink_backend/src/recovery_utils.rs`.)
    sweepOrphans(root, m, config.orphanGraceMs)
    if (config.walEnabled) {
      val kf = identity match {
        case Identity.FullRow => m.schema.fields.toSeq
        case _ => m.keyCols.map(c => m.schema.fields(m.schema.fieldIndex(c)))
      }
      // replay from the flush LSN: anything beyond it exists only in the
      // WAL; replays below it are idempotent (DV dedup, tail rebuild)
      val (replayed, segments) = Wal.replay(root, m.schema, m.flushLsn)
      t.walSegments ++= segments
      val events = replayed.map {
        case d: Delete => d.copy(key = Wal.coerceKey(d.key, kf))
        case e => e
      }
      if (events.nonEmpty) t.applyInternal(events)
    }
    t
  }

  private[graft] def anyOrdering(dt: DataType): Ordering[Any] = dt match {
    case _: IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
    case _: LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case _: ShortType => Ordering.Short.on[Any](_.asInstanceOf[Short])
    case _: DoubleType => Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])
    case _: FloatType => Ordering.Float.TotalOrdering.on[Any](_.asInstanceOf[Float])
    // Strings must order as UTF-8 bytes (what Spark's Min/Max over
    // UTF8String computes), not UTF-16 code units: the two disagree for
    // supplementary-plane code points vs high-BMP chars.
    case _: StringType => new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        org.apache.spark.unsafe.types.UTF8String.fromString(a.toString)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.toString))
    }
    case _: DateType => Ordering.Long.on[Any](_.asInstanceOf[java.sql.Date].getTime)
    // Timestamp.compareTo includes the nanos field; getTime is millis
    // only and would collapse sub-millisecond distinctions that the
    // stat strings (Timestamp.toString, nanosecond precision) preserve.
    case _: TimestampType => new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        a.asInstanceOf[java.sql.Timestamp].compareTo(b.asInstanceOf[java.sql.Timestamp])
    }
    case _: BooleanType => Ordering.Boolean.on[Any](_.asInstanceOf[Boolean])
    // compareTo, not equals: 1.0 and 1.00 must order as equal values
    case _: DecimalType => new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        toJavaBD(a).compareTo(toJavaBD(b))
    }
    case other => throw new IllegalArgumentException(s"no ordering for $other")
  }

  /** Manifest-stat bounds as strings. String columns TRUNCATE to 32
   *  code points (Iceberg's metrics truncation): the lower bound keeps
   *  the plain prefix (prefix <= every value), the upper bound is the
   *  prefix with its last liftable code point incremented (> every
   *  value sharing the prefix — UTF-8 preserves code-point order, so
   *  the bound holds under UTF8String binary comparison too). A max
   *  whose truncation cannot be raised drops the pair rather than
   *  store a wrong bound. Without this, a long-text column would embed
   *  its full boundary documents in the manifest — megabytes per file
   *  at corpus scale. */
  private[graft] def statBounds(dt: DataType, mn: Any, mx: Any): Seq[String] =
    statBoundsExact(dt, mn, mx)._1

  /** statBounds plus an exactness verdict: TRUE when the stored pair
   *  are actual data values — always for non-strings; for strings only
   *  when neither end was truncated/lifted (≤32 code points). Exact
   *  string bounds are recorded in `DataFileEntry.exactBounds` and may
   *  answer MIN/MAX aggregates, not merely prune. */
  private[graft] def statBoundsExact(dt: DataType, mn: Any, mx: Any)
      : (Seq[String], Boolean) =
    dt match {
      case StringType =>
        val lo = mn.toString; val hi = mx.toString
        val max = 32
        def cpLen(s: String) = s.codePointCount(0, s.length)
        def prefix(s: String) =
          s.substring(0, s.offsetByCodePoints(0, max))
        if (cpLen(lo) <= max && cpLen(hi) <= max) (Seq(lo, hi), true)
        else {
          val loT = if (cpLen(lo) <= max) lo else prefix(lo)
          if (cpLen(hi) <= max) (Seq(loT, hi), false)
          else {
            val cps = prefix(hi).codePoints().toArray
            var i = cps.length - 1
            var lifted: String = null
            while (i >= 0 && lifted == null) {
              val c = cps(i) + 1
              if (c <= 0x10FFFF && (c < 0xD800 || c > 0xDFFF))
                lifted = new String(cps.take(i) :+ c, 0, i + 1)
              else i -= 1
            }
            (if (lifted == null) Seq.empty else Seq(loT, lifted), false)
          }
        }
      // toPlainString: BigDecimal.toString turns small-magnitude values
      // into scientific notation, which parseStat would still read but
      // humans and the iceberg export wouldn't expect
      case _: DecimalType => (Seq(toJavaBD(mn).toPlainString,
        toJavaBD(mx).toPlainString), true)
      case _ => (Seq(mn.toString, mx.toString), true)
    }

  /** Project (field, raw min, raw max) triples into the manifest
   *  bounds map plus the string-exactness marker — the SINGLE place
   *  the exactness criterion (string column, ≤32 code points both
   *  ends, non-empty bounds) is applied, so every stat-writing path
   *  marks identically. A null min (all-NULL or empty partition)
   *  yields no bounds. */
  private[graft] def boundsAndExact(
      fieldBounds: Seq[(StructField, Any, Any)])
      : (Map[String, Seq[String]], Seq[String]) = {
    val be = fieldBounds.map { case (f, mn, mx) =>
      (f, if (mn == null) (Seq.empty[String], false)
          else statBoundsExact(f.dataType, mn, mx))
    }
    (be.map { case (f, (b, _)) => f.name -> b }.toMap,
      be.collect { case (f, (b, true))
        if f.dataType.isInstanceOf[StringType] && b.nonEmpty => f.name })
  }

  /** Fold one partition's raw stat arrays (indexed like `statFields`)
   *  into [[PartFileStats]] — shared by the fused-accumulator
   *  read-back, the standalone stats pass and the fold-output
   *  collect. */
  private[graft] def partFileStats(statFields: Seq[(StructField, Int)],
      n: Long, mins: Seq[Any], maxs: Seq[Any], nulls: Seq[Long],
      sums: Seq[String], vcs: Seq[Map[String, String]] = null)
      : PartFileStats = {
    val (stats, exact) = boundsAndExact(statFields.zipWithIndex.map {
      case ((f, _), j) => (f, mins(j), maxs(j)) })
    val ns = statFields.zipWithIndex.map { case ((f, _), j) =>
      f.name -> nulls(j).toString }.toMap
    val sm = statFields.zipWithIndex.collect {
      case ((f, _), j) if sums(j) != null => f.name -> sums(j) }.toMap
    val vs =
      if (vcs == null) Map.empty[String, Map[String, String]]
      else statFields.zipWithIndex.collect {
        case ((f, _), j) if vcs(j) != null => f.name -> vcs(j) }.toMap
    PartFileStats(n, stats, ns, sm, exact, vs)
  }

  private[graft] def statsComparable(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: DoubleType |
         _: FloatType | _: StringType | _: DateType | _: TimestampType |
         _: BooleanType | _: DecimalType => true
    case _ => false
  }

  private[graft] def parseStat(dt: DataType, s: String): Any = dt match {
    case _: IntegerType => s.toInt
    case _: LongType => s.toLong
    case _: ShortType => s.toShort
    case _: DoubleType => s.toDouble
    case _: FloatType => s.toFloat
    case _: StringType => s
    case _: DateType => java.sql.Date.valueOf(s)
    case _: TimestampType => java.sql.Timestamp.valueOf(s)
    case _: BooleanType => s.toBoolean
    case _: DecimalType => new java.math.BigDecimal(s)
    case other => throw new IllegalArgumentException(s"no parse for $other")
  }
}
