package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** A timed interval on the client thread (`job` = false) or a Spark job
 *  attributed to the client span that submitted it (`job` = true). */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, workload: String, job: Boolean) {
  def durNs: Long = endNs - startNs
}

/** Per-job task totals gathered by the listener. */
final class JobStats {
  var tasks = 0L; var failures = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var output = 0L; var spill = 0L
  var rowsRead = 0L; var bytesRead = 0L; var scanTasks = 0L
}

/**
 * Client-side tracing. Spans are recorded around the benchmark's calls
 * into the engine's public API; nothing inside the engine is touched.
 * Spark jobs are tied to the innermost open span through a job-group
 * local property that the span sets before calling in, and placed on
 * the client's clock through the listener's epoch timestamps.
 * All spans stay in memory until the run ends.
 */
final class Trace(val enabled: Boolean, workload: String, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Long, String, Long)]()
  private var nextId = 1L
  private val PropKey = "perfbench.span"
  private val EngineFrame = """graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r
  // epoch-ms -> nanoTime mapping for listener timestamps
  private val clockNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val jobSpanOf = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobStats = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Span, String)]()
  @volatile private var started = 0L
  @volatile private var ended = 0L
  @volatile private var taskEnds = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(_.toLong).getOrElse(0L)
      jobSpanOf.put(e.jobId, sp)
      jobStart.put(e.jobId, e.time)
      // the engine source file nearest the action on the submitting
      // stack; "client" when the benchmark itself ran the action
      val site = e.stageInfos.headOption.map(_.details).getOrElse("").split('\n').iterator
        .map(_.trim).collectFirst { case EngineFrame(f) => f }.getOrElse("client")
      jobSite.put(e.jobId, site)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStats.putIfAbsent(e.jobId, new JobStats)
      started += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      val sp = Option(jobSpanOf.get(e.jobId)).map(_.longValue).getOrElse(0L)
      jobSpans.add((Span(-e.jobId - 1, "spark.job", t0 * 1000000L + clockNs,
        e.time * 1000000L + clockNs, sp, workload, job = true),
        Option(jobSite.get(e.jobId)).getOrElse("unknown")))
      ended += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobStats.get(j)))
      st.foreach { s =>
        s.synchronized {
          s.tasks += 1
          if (e.reason != org.apache.spark.Success) s.failures += 1
          val m = e.taskMetrics
          if (m != null) {
            s.cpuNs += m.executorCpuTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            s.output += m.outputMetrics.bytesWritten
            s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            val in = m.inputMetrics
            s.rowsRead += in.recordsRead; s.bytesRead += in.bytesRead
            if (in.recordsRead > 0 || in.bytesRead > 0) s.scanTasks += 1
          }
        }
      }
      taskEnds += 1
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Time `f` as span `name` (only recorded when tracing is on). */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = if (stack.isEmpty) 0L else stack.top._1
      stack.push((id, name, System.nanoTime()))
      sc.setLocalProperty(PropKey, id.toString)
      try f
      finally {
        val (_, _, t0) = stack.pop()
        spans += Span(id, name, t0, System.nanoTime(), parent, workload, job = false)
        sc.setLocalProperty(PropKey, if (stack.isEmpty) null else stack.top._1.toString)
      }
    }

  /** Marks where the measured phase starts and ends; only spans and
   *  jobs inside [from, to] count toward per-layer figures. */
  var from = 0L
  var to = Long.MaxValue

  /** Wait until the listener has seen the end of every job it saw start. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (started != ended || taskEnds != last)) {
      last = taskEnds
      Thread.sleep(100)
    }
  }

  def clientSpans: Seq[Span] = spans.toSeq
  def jobs: Seq[(Span, String)] = {
    import scala.jdk.CollectionConverters._
    jobSpans.asScala.toSeq
  }
  def inWindow(s: Span): Boolean = s.startNs >= from && s.endNs <= to

  /** Self time per span name: a span's duration minus the part of it
   *  covered by its child spans (client children and attributed jobs). */
  def selfSeconds: Map[String, Double] = {
    val all = clientSpans.filter(inWindow) ++ jobs.map(_._1).filter(inWindow)
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).filter(_.id != s.id)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Spans as JSON lines, for the dump written at the end of a traced run. */
  def dumpLines: Iterator[String] =
    (clientSpans.iterator.map(s => (s, "")) ++ jobs.iterator).map { case (s, site) =>
      Main.json(Map("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "workload" -> s.workload, "job" -> s.job, "site" -> site))
    }
}
