package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local-filesystem counters. Bytes come from Hadoop's own per-scheme
  * statistics (always on); operation counts come from
  * [[CountingLocalFileSystem]], which only traced runs install. */
object FsCounters {
  val opens = new AtomicLong
  val statuses = new AtomicLong
  val lists = new AtomicLong
  val writes = new AtomicLong

  private def fileStats: Seq[FileSystem.Statistics] =
    FileSystem.getAllStatistics.asScala.toSeq.filter(_.getScheme == "file") ++
      FileContext.getAllStatistics.asScala.collect {
        case (uri, s) if uri.getScheme == "file" => s }

  def bytesRead: Long = fileStats.map(_.getBytesRead).sum
  def bytesWritten: Long = fileStats.map(_.getBytesWritten).sum

  /** (read_ops, list_ops, write_ops, bytes_read, bytes_written) now. */
  def snapshot(): Array[Long] = Array(opens.get + statuses.get, lists.get,
    writes.get, bytesRead, bytesWritten)
}

/** `file://` with operation counting, installed as `fs.file.impl` in
  * traced runs. Counts calls made through the Hadoop `FileSystem` API;
  * checksum side files and the `FileContext` API (checkpoint files)
  * are not counted as operations, but their bytes are. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int) = {
    FsCounters.opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.statuses.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path) = {
    FsCounters.lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    FsCounters.writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FsCounters.writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    FsCounters.writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FsCounters.writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

/** One traced interval: a whole operation (`kind = "op"`) or a public
  * call the benchmark makes into a layer. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val kind: String, val startMs: Long, val startNs: Long,
    val fs0: Array[Long]) {
  var endMs = 0L
  var endNs = 0L
  var fs1: Array[Long] = fs0
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = if (kind == "op") "op" else name.takeWhile(_ != '.')
}

/** Engine counters attributed to one span. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var analysisMs, optimizationMs, planningMs, queries = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; queries += o.queries
    jobIntervals ++= o.jobIntervals
  }
}

/** The traced-run recorder. Spans are opened by the benchmark around
  * each call it makes into the program and kept in memory; a
  * `SparkListener` and a `QueryExecutionListener` record every job,
  * task and executed query. After the run, [[attribute]] assigns each
  * job and planning phase to the innermost span it ran under: by the
  * span id the client thread stamps on its jobs, or, for jobs of other
  * threads, by time. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val SpanProp = "perfbench.span"
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var currentOp = -1

  private final class JobRec(val id: Int, val startMs: Long,
      val hint: Int, val stageIds: Seq[Int]) { var endMs = -1L }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, Counts]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String, kind: String = "call")(body: => T): T =
    if (!enabled) body else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1),
        if (kind == "op") spans.size else currentOp, name, kind,
        System.currentTimeMillis(), System.nanoTime(), FsCounters.snapshot())
      if (kind == "op") currentOp = s.id
      spans += s
      stack.push(s)
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.fs1 = FsCounters.snapshot()
        stack.pop()
        sc.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val hint = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProp))).flatMap(_.toIntOption).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, hint, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stages.getOrElseUpdate(e.stageId, new Counts)
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    for (name <- Seq("analysis", "optimization", "planning");
         p <- ph.get(name)) phases += ((name, p.startTimeMs, p.durationMs))
    val at = ph.get("planning").orElse(ph.get("analysis"))
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    phases += (("query", at, 0L))
  }

  /** Innermost span whose wall interval holds `t` (ms), or -1. */
  private def spanAt(t: Long): Int = {
    var best = -1
    var bestDepth = -1
    for (s <- spans if s.startMs <= t && t <= s.endMs) {
      val d = depth(s)
      if (d > bestDepth) { best = s.id; bestDepth = d }
    }
    best
  }
  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  /** Counts per span, each including those of its descendants. */
  def attribute(): Map[Int, Counts] = synchronized {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val own = mutable.Map.empty[Int, Counts]
    def at(id: Int) = own.getOrElseUpdate(id, new Counts)
    for (j <- jobs.values) {
      val sid = if (j.hint >= 0 && j.hint < spans.size) j.hint
        else spanAt(j.startMs)
      if (sid >= 0) {
        val c = at(sid)
        c.jobs += 1
        c.stages += j.stageIds.size
        j.stageIds.flatMap(stages.get).foreach { st =>
          c.tasks += st.tasks; c.failedTasks += st.failedTasks
          c.runMs += st.runMs; c.cpuNs += st.cpuNs; c.gcMs += st.gcMs
          c.shuffleRead += st.shuffleRead; c.shuffleWrite += st.shuffleWrite
          c.spill += st.spill
        }
        c.jobIntervals += ((j.startMs,
          if (j.endMs >= 0) j.endMs else j.startMs))
      }
    }
    for ((name, t, ms) <- phases; sid = spanAt(t) if sid >= 0) {
      val c = at(sid)
      name match {
        case "analysis" => c.analysisMs += ms
        case "optimization" => c.optimizationMs += ms
        case "planning" => c.planningMs += ms
        case _ => c.queries += 1
      }
    }
    val total = mutable.Map.empty[Int, Counts]
    for (s <- spans) total(s.id) = new Counts
    for ((id, c) <- own) {
      var p = id
      while (p >= 0) { total(p).add(c); p = spans(p).parent }
    }
    total.toMap
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, end)
      val b = math.min(b0, hi)
      if (b > a) { covered += b - a; end = b }
    }
    covered
  }

  /** Span duration minus the part its child spans cover. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val kids = children.map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    for ((a0, b) <- kids) {
      val a = math.max(a0, end)
      if (b > a) { covered += b - a; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }
}
