package perfbench

import graft.format.{DvSidecar, ManifestLog}
import graft.model._
import graft.observability.Metrics
import graft.streaming.CdcPipeline
import graft.table.{GraftTable, TableConfig}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * Engine benchmark client. One JVM runs one workload against a fresh
 * warehouse directory from a single client thread and writes one JSON
 * result file; `run.py` turns it into the benchmark's result line.
 *
 * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
 */
object Main {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("grp", IntegerType),
    StructField("amount", LongType),
    StructField("ts", LongType),
    StructField("note", StringType)))
  val EventSchema: StructType = StructType(
    Seq(StructField("_op", StringType), StructField("_lsn", LongType)) ++ Schema.fields)
  val Key: Identity = Identity.Keys(Seq("id"))
  /** Table set-ups per run; setup_s is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val r = new Run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("work"))
    val code = try { r.run(); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.error(s"aborted: $e")
        2
    }
    r.writeResult(opt("out"))
    r.stop()
    sys.exit(code)
  }

  def row(e: Ev): Row = Row(e.id, e.grp, e.amount, e.ts, Ev.note(e.id))
  def eventRow(e: Ev, lsn: Long): Row =
    Row(e.op.toString, lsn, e.id, e.grp, e.amount, e.ts, Ev.note(e.id))

  /** Driver-path events for one generated event at `lsn`. */
  def cdcEvents(e: Ev, lsn: Long): Seq[CdcEvent] = e.op match {
    case 'i' => Seq(Append(row(e), lsn))
    case 'u' => CdcEvent.upsert(row(e), Seq(e.id), lsn)
    case _ => Seq(Delete(Seq(e.id), lsn))
  }

  /** Linear-interpolated percentile of a sample (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted; val p = q * (s.size - 1)
    val lo = math.floor(p).toInt; val hi = math.ceil(p).toInt
    s(lo) + (s(hi) - s(lo)) * (p - lo)
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}

/** One benchmark run: session, set-up repetitions, measured phase,
 *  post-run verification, recovery and format accounting. */
final class Run(val workload: String, seed: Long, seconds: Double,
    traced: Boolean, work: String) {
  import Main._

  require(Set("cdc_stream", "scan_mix").contains(workload),
    s"unknown workload $workload")
  private val nproc = Runtime.getRuntime.availableProcessors()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  /** JVM launch to a usable session. */
  private val sessionS =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  val trace = new Trace(traced, workload, spark.sparkContext)

  // ---- results ---------------------------------------------------------
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val detail = mutable.LinkedHashMap[String, Any]()

  def error(msg: String): Unit = { if (errors.size < 20) errors += msg; System.err.println(s"perfbench: $msg") }
  /** Counts one operation; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; error(s"mismatch: $what") }
  }

  // ---- samples of the phase that writes (measured, or the last set-up
  //      for scan_mix, whose measured phase only reads) -----------------
  private val commitMs = mutable.ArrayBuffer[Double]()
  private val freshMs = mutable.ArrayBuffer[Double]()
  private var writeEvents = 0L
  private var writeWallS = 0.0
  private var writeWchar = 0L
  private val queryMs = mutable.ArrayBuffer[Double]()
  private val classMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val planMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val walSegs = mutable.ArrayBuffer[Double]()
  private val walBytes = mutable.ArrayBuffer[Double]()
  private var commits = 0L
  /** Time the open-loop client slept waiting for events to fall due. */
  private var idleNs = 0L
  /** Client time spent generating and staging inputs (not the engine's). */
  private var genNs = 0L
  private var stages = 0

  // ---- process counters ------------------------------------------------
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = osBean.getProcessCpuTime
  def wchar: Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith("wchar:")).map(_.split(":")(1).trim.toLong).getOrElse(0L)
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def heapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def dirBytes(p: String): Long = {
    val f = new File(p)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- table state -------------------------------------------------------
  var table: GraftTable = _
  var root: String = _
  var gen: Gen = _
  var oracle: Oracle = _
  var lsn = 0L
  /** An older committed state for readAsOf: (lsn, state). */
  var asOf: (Long, Oracle) = _
  /** The state the DSv2 source serves (persisted files minus DVs). */
  var persisted: Oracle = _
  val qrng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
  val qdigest = new Digest

  private def freshTable(rep: Int, config: TableConfig): Unit = {
    stages = 0
    root = s"$work/tables/$workload-$rep"
    table = GraftTable.create(spark, root, Schema, Key, config)
    gen = new Gen(seed); oracle = new Oracle; lsn = 0L
    tailKeys.clear()
  }

  // ---- the write phase: the measured phase of cdc_stream, the bulk build
  //      in the last set-up of scan_mix (whose measured phase only reads) --
  private var wFrom = 0L
  private var wTo = 0L
  private var wWchar0 = 0L
  private var wGen0 = 0L
  private var wHisto0 = Map.empty[String, (Long, Long)]
  private var histoDelta = Map.empty[String, (Long, Long)]
  private var writing = false
  private var writeCommits = 0L

  private def beginWrite(): Unit = {
    commitMs.clear(); freshMs.clear(); writeEvents = 0; commits = 0
    walSegs.clear(); walBytes.clear()
    wWchar0 = wchar; wGen0 = genNs; wHisto0 = histos(); wFrom = System.nanoTime()
    writing = true
  }
  /** Closes the write phase; `wallS` is its duration as the client saw
   *  it, with input staging taken out. */
  private def endWrite(wallS: Double): Unit = {
    wTo = System.nanoTime()
    writing = false
    writeCommits = commits
    writeWallS = wallS - (genNs - wGen0) / 1e9
    writeWchar = wchar - wWchar0
    val h = histos()
    histoDelta = h.map { case (k, (n, ms)) => k -> (n - wHisto0(k)._1, ms - wHisto0(k)._2) }
  }

  private def flushes: Long =
    Metrics.histogram("graft.persistence_latency", root).map(_.count.sum).getOrElse(0L)

  /** (count, total ms) of the engine's publish and flush histograms. */
  private def histos(): Map[String, (Long, Long)] =
    Seq("graft.snapshot_creation_latency", "graft.persistence_latency").map { n =>
      n -> Metrics.histogram(n, root).map(h => (h.count.sum, h.sumMs.sum)).getOrElse((0L, 0L))
    }.toMap

  /** Stages generated batches as parquet, as a CDC source landing
   *  micro-batches would (the engine re-reads a batch on each pass), and
   *  returns one frame per batch. Event LSNs continue from `lsn`. One
   *  Spark job writes them all. Every set-up repetition replays the same
   *  seeded batches, so a staged batch is written once and reused. */
  private def stage(batches: Seq[Array[Ev]]): Seq[DataFrame] = {
    val g0 = System.nanoTime()
    stages += 1
    val dir = s"$work/stage/s$stages"
    if (!new File(dir).exists()) {
      val rows = new java.util.ArrayList[Row]()
      var l = lsn
      for ((evs, b) <- batches.zipWithIndex; e <- evs) { l += 1; rows.add(Row.fromSeq(eventRow(e, l).toSeq :+ b)) }
      spark.createDataFrame(rows, EventSchema.add("_batch", IntegerType))
        .write.partitionBy("_batch").parquet(dir)
    }
    val dfs = batches.indices.map(b => spark.read.schema(EventSchema).parquet(s"$dir/_batch=$b"))
    genNs += System.nanoTime() - g0
    dfs
  }

  private def applyBulk(evs: Array[Ev]): Double = applyStaged(evs, stage(Seq(evs)).head)

  /** Distributed batch ingest of `evs`, staged as `df`; returns its
   *  commit latency in ms. */
  private def applyStaged(evs: Array[Ev], df: DataFrame): Double = {
    lsn += evs.length
    val t0 = System.nanoTime()
    val got = trace.span("streaming.apply_batch")(CdcPipeline.applyBatch(table, df))
    val ms = secs(t0) * 1000
    evs.foreach(oracle.apply)
    check(got == lsn, s"applyBatch returned lsn $got, expected $lsn")
    commits += 1
    ms
  }

  /** Keys whose live row is in the engine's mem-slice tail, i.e. was
   *  written by the driver path since the last flush. A driver-path
   *  delete (alone or inside an upsert) of such a key is resolved in the
   *  tail; any other is resolved at publish against the persisted index. */
  private val tailKeys = mutable.HashSet[Long]()
  /** Deletes and upserts of the write phase by where their delete was
   *  resolved: in the tail, or via the index on a live or absent key. */
  private val resolvedAt = mutable.LinkedHashMap("tail" -> 0L, "index_live" -> 0L, "index_absent" -> 0L)

  /** Driver-path commit of `evs` as one apply + Commit; returns ms. */
  private def applyDriver(evs: Seq[Ev]): Double = {
    val ces = mutable.ArrayBuffer[CdcEvent]()
    evs.foreach { e => lsn += 1; ces ++= cdcEvents(e, lsn) }
    ces += Commit(lsn)
    val f0 = flushes
    val t0 = System.nanoTime()
    val got = trace.span("table.apply")(table.apply(ces.toSeq))
    val ms = secs(t0) * 1000
    evs.foreach { e =>
      if (writing && e.op != 'i') {
        val at = if (tailKeys.contains(e.id)) "tail" else if (oracle.row(e.id).isDefined) "index_live" else "index_absent"
        resolvedAt(at) += 1
      }
      if (e.op == 'd') tailKeys -= e.id else tailKeys += e.id
      oracle.apply(e)
    }
    // a flush runs at the batch's closing Commit and empties the tail
    if (flushes != f0) tailKeys.clear()
    check(got == lsn, s"apply returned lsn $got, expected $lsn")
    commits += 1
    if (traced && writing) {
      val w = new File(s"$root/wal").listFiles()
      walSegs += Option(w).map(_.length.toDouble).getOrElse(0.0)
      walBytes += Option(w).map(_.map(_.length).sum.toDouble).getOrElse(0.0)
    }
    ms
  }

  // ---- set-up --------------------------------------------------------------
  /** cdc_stream offered load, events per second. */
  private val Rate = 2000.0
  /** cdc_stream mem-slice rows. Small enough that a run flushes about
   *  six times: flush commits are then a steady share of all commits, so
   *  commit p90 and freshness p99 fall inside the flush spikes rather
   *  than on the edge of one or two of them. */
  private val MemSlice = 4096

  private def setup(rep: Int): Unit = workload match {
    case "cdc_stream" =>
      freshTable(rep, TableConfig(memSliceSize = MemSlice))
      applyBulk(gen.bulkBatch(100000, 0, 0, 0L))
      asOf = (lsn, oracle.copy())
      hot = (gen.nextId * Gen.HotDataFraction).toLong
      // warm the driver path (WAL, fold, publish, index delete resolution)
      // with two commits of about one commit's worth of stream events
      for (c <- 0 until 2)
        applyDriver(Seq.tabulate(1000)(i => gen.streamEvent(hot, 900000L + c * 1000 + i)))
      verifyAgg(table.read(Some(lsn)), oracle.agg, "preload")
    case "scan_mix" =>
      // two ts-clustered files of 150k rows by distributed batch ingest,
      // then one bulk CDC batch that warms the delete path
      freshTable(rep, TableConfig())
      applyBulk(gen.bulkBatch(150000, 0, 0, 0L))
      asOf = (lsn, oracle.copy())
      applyBulk(gen.bulkBatch(150000, 0, 0, 1000000L))
      applyBulk(cdcBatch(0))
      verifyAgg(table.read(Some(lsn)), oracle.agg, "preload")
  }

  /** cdc_stream's hot ids: the lowest 20% of the preloaded ones. */
  private var hot = 0L

  /** Events per bulk CDC batch, and batches in scan_mix's write phase. */
  private val BulkBatch = 2500
  private val BulkBatches = 20
  /** Bulk CDC batch `b`: 30% inserts, 60% upserts, 10% deletes. */
  private def cdcBatch(b: Int): Array[Ev] =
    gen.bulkBatch(BulkBatch * 3 / 10, BulkBatch * 6 / 10, BulkBatch / 10, 2000000L + b * BulkBatch)

  /** scan_mix's write phase, run once after the set-ups: a closed loop
   *  of bulk CDC batches (30% inserts, 60% upserts and 10% deletes on
   *  distinct existing keys) through `CdcPipeline.applyBatch`. Each
   *  leaves a small file and DVs on older ones. No `maintain()`: it would
   *  compact the files into one, dropping the DVs and the `ts`
   *  clustering the query mix reads, and vacuum the time-travel target. */
  private def bulkWrite(): Unit = {
    val t0 = System.nanoTime()
    beginWrite()
    var prevMs = 0.0
    val batches = (1 to BulkBatches).map(cdcBatch)
    for (((evs, df), b) <- batches.zip(stage(batches)).zipWithIndex) {
      val ms = applyStaged(evs, df)
      commitMs += ms; writeEvents += evs.length
      // micro-batch freshness: the events of batch b arrived while batch
      // b-1 committed, so one waits for the rest of that commit and then
      // for its own batch's (the first batch has no predecessor)
      if (b > 0) {
        var j = 0
        while (j < evs.length) { freshMs += (1 - (j + 0.5) / evs.length) * prevMs + ms; j += 1 }
      }
      prevMs = ms
    }
    endWrite(secs(t0))
    persisted = oracle.copy()
    // then a committed-but-unflushed 5k-row tail in two driver-path
    // commits (not part of the write phase: cdc_stream measures that path)
    for (c <- 0 until 2)
      applyDriver((0 until 2500).map(j => gen.insert(3000000L + c * 2500 + j)))
    verifyAgg(table.read(Some(lsn)), oracle.agg, "build")
  }

  // ---- verification ------------------------------------------------------
  private def aggOf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), coalesce(sum("amount"), lit(0L)), coalesce(sum("id"), lit(0L)))
  private def toAgg(r: Row): Agg = Agg(r.getLong(0), r.getLong(1), r.getLong(2))
  def verifyAgg(df: DataFrame, want: Agg, what: String): Unit = {
    val got = toAgg(aggOf(df).collect().head)
    check(got == want, s"$workload $what: got $got want $want")
  }

  /** Query classes of the read mix: DSv2 source (committed snapshot),
   *  union read at an LSN (snapshot + unflushed tail), time travel. */
  val Classes = Seq("dsv2_groupby", "dsv2_count", "dsv2_range", "dsv2_point",
    "union_groupby", "union_point", "asof_count")

  /** Runs one query of class `cls`, verifies it and returns its ms. */
  def query(cls: String): Double = {
    val maxId = gen.nextId
    val key = qrng.nextLong(maxId)
    // a 50k-wide ts range inside one of the two preloaded files: stat
    // pruning skips every other file, and every range query reads alike
    val lo = (if (qrng.nextBoolean()) 0L else 1000000L) + qrng.nextLong(100000L); val hi = lo + 50000L
    qdigest.add(s"$cls|$key|$lo")
    def dsv2 = spark.read.format("graft").load(root)
    def grouped(df: DataFrame) = df.groupBy("grp").agg(count(lit(1)), sum("amount"))
    def groups(rows: Array[Row]) = rows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    def point(rows: Array[Row]) = rows.map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val t0 = System.nanoTime()
    val df: DataFrame = trace.span(s"sources.plan.$cls") {
      val d = cls match {
        case "dsv2_groupby" => grouped(dsv2)
        case "dsv2_count" => dsv2.agg(count(lit(1)))
        case "dsv2_range" => dsv2.where(col("ts").between(lo, hi)).agg(count(lit(1)), coalesce(sum("amount"), lit(0L)))
        case "dsv2_point" => dsv2.where(col("id") === key)
        case "union_groupby" => grouped(trace.span("table.read")(table.read(Some(lsn))))
        case "union_point" => trace.span("table.read")(table.read(Some(lsn))).where(col("id") === key)
        case "asof_count" => trace.span("table.readasof")(table.readAsOf(asOf._1)).agg(count(lit(1)))
      }
      d.queryExecution.executedPlan
      d
    }
    val t1 = System.nanoTime()
    val rows = trace.span(s"sources.exec.$cls")(df.collect())
    val t2 = System.nanoTime()
    val ms = (t2 - t0) / 1e6
    planMs.getOrElseUpdate(cls, mutable.ArrayBuffer()) += (t1 - t0) / 1e6
    classMs.getOrElseUpdate(cls, mutable.ArrayBuffer()) += (t2 - t1) / 1e6
    cls match {
      case "dsv2_groupby" => check(groups(rows) == persisted.groups, s"$cls groups")
      case "dsv2_count" => check(rows.head.getLong(0) == persisted.count, s"$cls ${rows.head} vs ${persisted.count}")
      case "dsv2_range" =>
        val want = persisted.tsRange(lo, hi)
        check((rows.head.getLong(0), rows.head.getLong(1)) == want, s"$cls [$lo,$hi] ${rows.head} vs $want")
      case "dsv2_point" => check(point(rows) == persisted.row(key).toSeq, s"$cls $key")
      case "union_groupby" => check(groups(rows) == oracle.groups, s"$cls groups")
      case "union_point" => check(point(rows) == oracle.row(key).toSeq, s"$cls $key")
      case "asof_count" => check(rows.head.getLong(0) == asOf._2.count, s"$cls ${rows.head} vs ${asOf._2.count}")
    }
    ms
  }

  /** The union aggregate read cdc_stream runs between commits; returns
   *  its ms. */
  private def unionAgg(): Double = {
    val t0 = System.nanoTime()
    val df = trace.span("table.read")(table.read(Some(lsn)))
    val t1 = System.nanoTime()
    val got = toAgg(trace.span("table.read.exec")(aggOf(df).collect().head))
    val t2 = System.nanoTime()
    planMs.getOrElseUpdate("union_agg", mutable.ArrayBuffer()) += (t1 - t0) / 1e6
    classMs.getOrElseUpdate("union_agg", mutable.ArrayBuffer()) += (t2 - t1) / 1e6
    check(got == oracle.agg, s"$workload union read at $lsn: got $got want ${oracle.agg}")
    (t2 - t0) / 1e6
  }

  // ---- measured phases -----------------------------------------------------
  private def measureCdcStream(): Unit = {
    val rate = Rate
    val total = (rate * seconds).toLong
    val events = Array.tabulate(total.toInt)(i => gen.streamEvent(hot, 1000000L + i))
    beginWrite()
    val t0 = System.nanoTime()
    var lastDone = t0
    var applied = 0
    var nextRead = 1
    val limit = t0 + (seconds * 3 * 1e9).toLong
    while (applied < total && System.nanoTime() < limit) {
      val el = System.nanoTime() - t0
      val due = math.min(total, el * rate / 1e9 + 1).toInt
      if (el >= nextRead * 1e9) {
        queryMs += unionAgg(); nextRead += 1
      } else if (due > applied) {
        val ms = applyDriver(events.slice(applied, due).toSeq)
        val done = System.nanoTime()
        commitMs += ms
        var i = applied
        while (i < due) { freshMs += (done - t0 - i / rate * 1e9) / 1e6; i += 1 }
        applied = due
        lastDone = done
      } else {
        val wait = (t0 + ((applied / rate) * 1e9).toLong - System.nanoTime()) / 1000000L
        if (wait > 0) {
          val s0 = System.nanoTime(); Thread.sleep(math.min(wait, 50)); idleNs += System.nanoTime() - s0
        }
      }
    }
    writeEvents = applied
    endWrite((lastDone - t0) / 1e9)
    if (applied < total) {
      failed += total - applied; attempted += total - applied
      error(s"cdc_stream fell behind: ${total - applied} of $total events not applied within ${3 * seconds} s")
    }
    // how late the generator ran behind its schedule at the end
    detail("schedule_lag_s") = (lastDone - t0) / 1e9 - (total - 1) / rate
    detail("offered_eps") = rate
    val nRes = resolvedAt.values.sum
    detail("delete_resolution") = resolvedAt.toMap ++
      Map("hot_ids" -> hot, "tail_share" -> (if (nRes == 0) 0.0 else resolvedAt("tail").toDouble / nRes))
  }

  /** Seconds one scan_mix round of every class took where the benchmark
   *  was tuned (4 cores). A run is `seconds / RoundS` whole rounds: a
   *  fixed amount of work, so cpu_s is its cost, not the loop's length. */
  private val RoundS = 2.7

  private def measureScan(): Unit = {
    val rounds = math.max(2, math.round(seconds / RoundS).toInt)
    for (_ <- 0 until rounds; cls <- Classes) queryMs += query(cls)
    detail("scan_rounds") = rounds
  }

  // ---- the run -----------------------------------------------------------
  def run(): Unit = {
    val setupS = (0 until SetupReps).map { rep =>
      if (rep > 0) { table = null; deleteTree(new File(root)) }
      val t0 = System.nanoTime(); val g0 = genNs
      setup(rep)
      secs(t0) - (genNs - g0) / 1e9
    }
    val phases = mutable.LinkedHashMap[String, Double]("session" -> sessionS, "setup" -> setupS.sum)
    detail("phase_s") = phases
    detail("setup_reps_s") = setupS
    detail("session_start_s") = sessionS
    e2e("setup_s") = sessionS + pct(setupS, 0.5)
    if (workload == "scan_mix") {
      val w0 = System.nanoTime()
      bulkWrite()
      phases("write") = secs(w0)
    }
    val cpu0 = cpuNs; val gc0 = gcMs
    trace.from = System.nanoTime()
    workload match {
      case "cdc_stream" => measureCdcStream()
      case "scan_mix" => measureScan()
    }
    trace.to = System.nanoTime()
    phases("measure") = (trace.to - trace.from) / 1e9
    var p0 = System.nanoTime()
    val cpuS = (cpuNs - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0
    val heap = heapMb()
    val live = oracle.count
    val fmt = formatStats()

    e2e("ingest_eps") = writeEvents / writeWallS
    e2e("freshness_p50_ms") = pct(freshMs.toSeq, 0.5)
    e2e("freshness_p99_ms") = pct(freshMs.toSeq, 0.99)
    e2e("commit_p50_ms") = pct(commitMs.toSeq, 0.5)
    e2e("commit_p90_ms") = pct(commitMs.toSeq, 0.9)
    e2e("query_p50_ms") = pct(queryMs.toSeq, 0.5)
    e2e("query_p90_ms") = pct(queryMs.toSeq, 0.9)
    e2e("disk_bytes_per_live_row") = dirBytes(root).toDouble / live
    e2e("io_write_bytes_per_event") = writeWchar.toDouble / writeEvents
    e2e("cpu_s") = cpuS
    e2e("driver_heap_mb") = heap
    // a percentile is backed when at least ten samples lie beyond it
    def backed(n: Int, q: Double) = Map("n" -> n, "backed" -> (n * (1 - q) >= 10))
    detail("percentile_samples") = Map(
      "freshness_p50_ms" -> backed(freshMs.size, 0.5), "freshness_p99_ms" -> backed(freshMs.size, 0.99),
      "commit_p50_ms" -> backed(commitMs.size, 0.5), "commit_p90_ms" -> backed(commitMs.size, 0.9),
      "query_p50_ms" -> backed(queryMs.size, 0.5), "query_p90_ms" -> backed(queryMs.size, 0.9))
    detail("query_ms_by_class") = classMs.keys.map(c =>
      c -> Map("plan_p50" -> pct(planMs(c).toSeq, 0.5), "exec_p50" -> pct(classMs(c).toSeq, 0.5),
        "n" -> classMs(c).size)).toMap
    detail("live_rows") = live
    detail("events") = writeEvents

    phases("collect") = secs(p0); p0 = System.nanoTime()
    // recovery: reopen from durable state (manifest chain, DVs, WAL);
    // the reopened handle serves the verification probe below
    val recS = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      table = GraftTable.open(spark, root, Key, table.config)
      secs(t0)
    }
    detail("recovery_reps_s") = recS
    e2e("recovery_s") = pct(recS, 0.5)
    verifyAgg(table.read(Some(lsn)), oracle.agg, "after reopen")
    phases("recovery") = secs(p0); p0 = System.nanoTime()

    // traced runs time one query of every class on the writing
    // workloads too (scan_mix already ran them all in its measured phase)
    if (traced && workload != "scan_mix") {
      table.flush(); table.publish()
      persisted = oracle
      Classes.foreach(query)
    }

    phases("probe") = secs(p0)
    detail("staging_s") = genNs / 1e9
    detail("digest") = Map("events" -> gen.digest.hex, "event_count" -> gen.digest.count,
      "queries" -> qdigest.hex, "query_count" -> qdigest.count)
    if (traced) layerMetrics(fmt, gcS)
  }

  /** Table layout read back from the manifest and the table directory. */
  private def formatStats(): Map[String, Double] = {
    val loads = (0 until 3).map { _ =>
      val t0 = System.nanoTime(); ManifestLog.loadLatest(root); secs(t0) * 1000
    }
    val m = ManifestLog.loadLatest(root).get
    val dead = mutable.HashMap[String, org.roaringbitmap.longlong.Roaring64Bitmap]()
    m.dvFiles.foreach { f =>
      DvSidecar.read(s"$root/dv/$f").foreach { case (file, bm) =>
        dead.getOrElseUpdate(file, new org.roaringbitmap.longlong.Roaring64Bitmap).or(bm)
      }
    }
    val files = m.dataFiles.map(_.path).toSet
    val deadRows = dead.filter(x => files.contains(x._1)).values.map(_.getLongCardinality).sum
    val rows = m.dataFiles.map(_.rows).sum
    Map(
      "format.data_files" -> m.dataFiles.size.toDouble,
      "format.index_files" -> m.indexFiles.size.toDouble,
      "format.dv_files" -> m.dvFiles.size.toDouble,
      "format.manifest_versions" -> ManifestLog.versions(root).size.toDouble,
      "format.bytes.data" -> dirBytes(s"$root/data").toDouble,
      "format.bytes.index" -> dirBytes(s"$root/index").toDouble,
      "format.bytes.dv" -> dirBytes(s"$root/dv").toDouble,
      "format.bytes.manifest" -> dirBytes(s"$root/manifest").toDouble,
      "format.bytes.wal" -> dirBytes(s"$root/wal").toDouble,
      "format.dead_row_ratio" -> (if (rows == 0) 0.0 else deadRows.toDouble / rows),
      "format.manifest_load_ms" -> pct(loads, 0.5))
  }

  private def layerMetrics(fmt: Map[String, Double], gcS: Double): Unit = {
    trace.drain()
    val spans = trace.clientSpans.filter(trace.inWindow)
    def inWrite(s: Span) = s.startNs >= wFrom && s.endNs <= wTo
    val writeSpans = trace.clientSpans.filter(inWrite)
    // write-side layers are read over the write phase
    def sumS(name: String) = writeSpans.filter(_.name == name).map(_.durNs).sum / 1e9
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else pct(xs.toSeq, 0.5)
    val (pubN, pubMs) = histoDelta("graft.snapshot_creation_latency")
    val (flN, flMs) = histoDelta("graft.persistence_latency")
    layers("table.apply_s") = sumS("table.apply")
    layers("table.publish_s") = pubMs / 1000.0
    layers("table.publish_n") = pubN.toDouble
    layers("table.flush_s") = flMs / 1000.0
    layers("table.flush_n") = flN.toDouble
    layers("table.wal_segments_max") = walSegs.maxOption.getOrElse(0.0)
    layers("table.wal_bytes_max") = walBytes.maxOption.getOrElse(0.0)
    layers("table.read_plan_ms") = med(spans.filter(_.name == "table.read").map(_.durNs / 1e6))
    val unionExec = Set("table.read.exec", "sources.exec.union_groupby", "sources.exec.union_point")
    layers("table.read_exec_ms") = med(spans.filter(s => unionExec(s.name)).map(_.durNs / 1e6))
    layers("table.readasof_ms") = med(trace.clientSpans.filter(_.name == "table.readasof").map(_.durNs / 1e6))
    layers("streaming.apply_batch_s") = sumS("streaming.apply_batch")
    fmt.foreach { case (k, v) => layers(k) = v }

    // per query class: plan and execution time, and the scan work of
    // the jobs each execution ran (per query)
    val all = trace.clientSpans
    val jobs = trace.jobs
    Classes.foreach { c =>
      layers(s"sources.plan_ms.$c") = med(planMs.getOrElse(c, Nil))
      layers(s"sources.exec_ms.$c") = med(classMs.getOrElse(c, Nil))
      val execIds = all.filter(_.name == s"sources.exec.$c").map(_.id).toSet
      val st = jobs.filter(j => execIds.contains(j._1.parent)).flatMap(j => Option(trace.jobStats.get((-j._1.id - 1).toInt)))
      val n = math.max(1, execIds.size).toDouble
      layers(s"sources.rows_read.$c") = st.map(_.rowsRead).sum / n
      layers(s"sources.bytes_read.$c") = st.map(_.bytesRead).sum / n
      layers(s"sources.scan_tasks.$c") = st.map(_.scanTasks).sum / n
    }

    // Spark runtime over the measured phase
    val wj = jobs.filter(j => trace.inWindow(j._1))
    val ws = wj.flatMap(j => Option(trace.jobStats.get((-j._1.id - 1).toInt)))
    layers("spark.jobs") = wj.size
    layers("spark.tasks") = ws.map(_.tasks).sum
    layers("spark.jobs_per_commit") =
      if (writeCommits == 0) 0.0 else jobs.count(j => inWrite(j._1)).toDouble / writeCommits
    val Sites = Seq("GraftTable", "CdcPipeline", "GraftDataSource", "Manifest", "client")
    val bySite = wj.groupBy { case (_, site) => if (Sites.contains(site)) site else "other" }
    (Sites :+ "other").foreach { s =>
      layers(s"spark.job_s.$s") = bySite.getOrElse(s, Nil).map(_._1.durNs).sum / 1e9
    }
    layers("spark.executor_cpu_s") = ws.map(_.cpuNs).sum / 1e9
    layers("spark.shuffle_write_bytes") = ws.map(_.shuffleWrite).sum
    layers("spark.shuffle_read_bytes") = ws.map(_.shuffleRead).sum
    layers("spark.output_bytes") = ws.map(_.output).sum
    layers("spark.spill_bytes") = ws.map(_.spill).sum
    layers("spark.task_failures") = ws.map(_.failures).sum
    layers("jvm.gc_s") = gcS

    detail("self_s") = trace.selfSeconds
    // wall accounting of cdc_stream's measured phase on the client thread
    if (workload == "cdc_stream") {
    val wall = (trace.to - trace.from) / 1e9
    val top = spans.filter(_.parent == 0)
    val publish = layers("table.publish_s"); val flush = layers("table.flush_s")
    val read = top.filter(s => s.name.startsWith("table.read") || s.name.startsWith("sources.")).map(_.durNs).sum / 1e9
    val applyRest = layers("table.apply_s") + layers("streaming.apply_batch_s") - publish - flush
    val other = top.filterNot(s => s.name.startsWith("table.read") || s.name.startsWith("sources.")
      || s.name == "table.apply" || s.name == "streaming.apply_batch").map(_.durNs).sum / 1e9
    val idle = idleNs / 1e9
    val accounted = publish + flush + read + applyRest + other + idle
    detail("wall_accounting") = Map("wall_s" -> wall, "publish_s" -> publish, "flush_s" -> flush,
      "read_s" -> read, "apply_rest_s" -> applyRest, "other_spans_s" -> other, "idle_s" -> idle,
      "accounted_share" -> accounted / wall)
    }
    val dump = s"$work/trace-$workload.jsonl"
    Files.write(Paths.get(dump), trace.dumpLines.toSeq.asJava)
    detail("trace_file") = dump
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def writeResult(out: String): Unit = {
    val res = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "e2e" -> e2e, "layers" -> layers, "detail" -> detail,
      "jvm" -> Map("nproc" -> nproc, "master" -> spark.sparkContext.master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576))
    Files.write(Paths.get(out), json(res).getBytes("UTF-8"))
  }

  def stop(): Unit = spark.stop()
}
