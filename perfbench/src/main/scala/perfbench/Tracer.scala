package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed span: an operation or the whole run. An
  * empty `error` means the span's work succeeded. */
final case class Span(id: Long, name: String, kind: String, parent: Long,
                      startMs: Long, endMs: Long, error: String)

/** A finished Spark job as the listener saw it. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Int,
                        tasks: Int, taskS: Double, description: String,
                        callSite: String, ownSite: String, execSite: String) {
  /** The job's own site; else that of the SQL action it serves. */
  def site: String =
    if (Tracer.isEngineSite(ownSite) || execSite.isEmpty) ownSite else execSite
}

/** Per-layer counters for the traced run. The listeners are attached
  * only while tracing is on, so untraced runs pay nothing for
  * them; the counting filesystem is always installed and counts only
  * while tracing. */
final class Tracer(spark: SparkSession, runId: String) {
  private val spanIds = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String, Int, String)]()
  // SQL execution id -> the site of the action that started it
  private val execSite = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // job -> (finished tasks, summed task run time in ms)
  private val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, (AtomicLong, AtomicLong)]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private def add(k: String, v: Double): Unit = counters.merge(k, v, (a, b) => a + b)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage carries the job's call site (short name, long
      // form in details)
      val result = e.stageInfos.maxBy(_.stageId)
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
      jobTasks.put(e.jobId, (new AtomicLong(0), new AtomicLong(0)))
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
      jobStart.put(e.jobId, (e.time, desc, result.details, e.stageInfos.size, exec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, desc, cs, nStages, exec) =>
        val (tasks, runMs) = Option(jobTasks.remove(e.jobId))
          .map { case (n, ms) => (n.get.toInt, ms.get / 1e3) }.getOrElse((0, 0.0))
        jobs.add(JobRec(e.jobId, t0, e.time, nStages, tasks, runMs, desc, cs,
          Tracer.siteOf(cs, desc), Option(execSite.get(exec)).getOrElse("")))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId.toString, Tracer.siteOf(x.details, x.description))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobTasks.get(j)))
        .foreach { case (n, ms) =>
          n.incrementAndGet()
          if (m != null) ms.addAndGet(m.executorRunTime)
        }
      add("sched.tasks", 1)
      if (m != null) {
        add("data.task_s", m.executorRunTime / 1e3)
        add("data.task_cpu_s", m.executorCpuTime / 1e9)
        add("data.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("data.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("data.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("data.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("data.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      add("plan.actions", 1)
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      add("plan.analysis_s", ms("analysis"))
      add("plan.optimization_s", ms("optimization"))
      add("plan.physical_s", ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  @volatile private var on = false
  private var gc0 = 0L
  private var fs0 = Map.empty[String, Long]

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    gc0 = Tracer.gcMs()
    fs0 = Tracer.fsStats()
    CountingFs.enabled = true
    on = true
  }

  /** Detach, after the listener bus has delivered every event. */
  def stop(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    CountingFs.enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    add("jvm.gc_s", (Tracer.gcMs() - gc0) / 1e3)
    Tracer.fsStats().foreach { case (k, v) => add(k, (v - fs0.getOrElse(k, 0L)).toDouble) }
    on = false
  }

  def counter(k: String): Double = Option(counters.get(k)).map(_.doubleValue).getOrElse(0.0)
  def counterNames: Set[String] = counters.keySet.asScala.toSet

  def newSpanId(): Long = spanIds.incrementAndGet()

  def span(id: Long, name: String, kind: String, parent: Long, t0: Long, t1: Long,
           error: String = ""): Unit =
    spans.add(Span(id, name, kind, parent, t0, t1, error))

  /** Spans and jobs as JSON lines, written once at the end of a run. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val out = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.asScala.foreach { s =>
        out.write(Json.render(Map("run" -> runId, "span" -> s.id, "name" -> s.name,
          "kind" -> s.kind, "parent" -> s.parent, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "ok" -> s.error.isEmpty, "error" -> s.error)))
        out.write("\n")
      }
      jobs.asScala.foreach { j =>
        out.write(Json.render(Map("run" -> runId, "job" -> j.id, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks, "task_s" -> j.taskS,
          "site" -> j.site, "own_site" -> j.ownSite, "description" -> j.description,
          "call_site" -> j.callSite.linesIterator.take(3).mkString(" | "))))
        out.write("\n")
      }
    } finally out.close()
  }
}

object Tracer {
  private val GraftFrame = """\bgraft\.[\w.$]+\((\w+)\.scala:\d+\)""".r

  /** The engine source file a call site is attributed to: its
    * innermost `graft.*` frame. Without one it is the harness's own
    * (`bench`), `other` when it carries a description, and `unlabeled`
    * otherwise (AQE stage materializations and broadcasts submitted
    * from a CompletableFuture thread). */
  def siteOf(callSite: String, description: String): String =
    GraftFrame.findFirstMatchIn(callSite).map(_.group(1)).getOrElse(
      if (callSite.contains("perfbench.")) "bench"
      else if (description.nonEmpty) "other"
      else "unlabeled")

  def isEngineSite(site: String): Boolean =
    !Set("bench", "other", "unlabeled").contains(site)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Hadoop `file://` statistics: byte counts from the filesystem's
    * own Statistics, operation counts from [[CountingFs]]. */
  def fsStats(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map(
      "fs.bytes_read" -> st.map(_.getBytesRead).sum,
      "fs.bytes_written" -> st.map(_.getBytesWritten).sum,
      "fs.read_ops" -> CountingFs.readOps.get,
      "fs.list_ops" -> CountingFs.listOps.get,
      "fs.write_ops" -> CountingFs.writeOps.get)
  }

  /** Union length of [start, end] intervals, in the input's unit. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer figures of the jobs that started inside [t0, t1]. */
  def jobFigures(all: Iterable[JobRec], t0: Long, t1: Long): Map[String, Double] = {
    val js = all.filter(j => j.startMs >= t0 && j.startMs <= t1).toSeq
    val bySite = js.groupBy(_.site)
    Map(
      "sched.jobs" -> js.size.toDouble,
      "sched.jobs_unlabeled" -> js.count(_.ownSite == "unlabeled").toDouble,
      "sched.job_s" -> unionLength(js.map(j => (j.startMs, math.min(j.endMs, t1)))) / 1e3,
      "data.task_s" -> js.map(_.taskS).sum) ++
      bySite.flatMap { case (site, sj) =>
        Seq(s"site.$site.jobs" -> sj.size.toDouble,
          s"site.$site.job_s" -> unionLength(sj.map(j => (j.startMs, j.endMs))) / 1e3)
      }
  }
}

/** Local filesystem that counts metadata and data operations while
  * tracing; installed as the `file://` implementation. */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs._
  import CountingFs._
  private def r[T](x: => T): T = { if (enabled) readOps.incrementAndGet(); x }
  private def l[T](x: => T): T = { if (enabled) listOps.incrementAndGet(); x }
  private def w[T](x: => T): T = { if (enabled) writeOps.incrementAndGet(); x }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = r(super.open(f, bufferSize))
  override def getFileStatus(f: Path): FileStatus = r(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] = l(super.listStatus(f))
  override def create(f: Path, perm: permission.FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream =
    w(super.create(f, perm, overwrite, bufferSize, replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = w(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = w(super.delete(f, recursive))
  override def mkdirs(f: Path, perm: permission.FsPermission): Boolean =
    w(super.mkdirs(f, perm))
}

object CountingFs {
  @volatile var enabled = false
  val readOps = new AtomicLong(0)
  val listOps = new AtomicLong(0)
  val writeOps = new AtomicLong(0)
}
