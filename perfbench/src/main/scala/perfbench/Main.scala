package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Timed operations of one run, in a closed loop: each
  * operation starts when the previous one returns. A failing operation
  * is recorded, not rethrown. */
final class Ops(tracer: Tracer, parent: Long) {
  val records = mutable.ArrayBuffer.empty[Map[String, Any]]

  def apply[T](name: String, kind: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val err = res.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500))
    tracer.span(tracer.newSpanId(), name, kind, parent, ms0, System.currentTimeMillis(),
      err.getOrElse(""))
    records += Map("name" -> name, "kind" -> kind, "start_ms" -> ms0,
      "seconds" -> (t1 - t0) / 1e9, "ok" -> err.isEmpty, "error" -> err.getOrElse(""))
    res.toOption
  }
}

/** One workload: untimed input preparation, one timed run of its
  * operations and untimed output capture. */
trait Workload {
  def prepare(spark: SparkSession): Unit
  def run(spark: SparkSession, ops: Ops): Unit
  /** Per-layer figures that are not Spark/Hadoop/JVM counters. */
  def layers(spark: SparkSession): Map[String, Double]
  /** Outputs for the checks, captured after the timed run. */
  def outputs(spark: SparkSession): Map[String, Any]
}

/** Benchmark harness entry point. Prints nothing on stdout; writes one
  * JSON result file for `run.py`.
  *
  * Usage: perfbench.Main --workload W --trace 0|1 --cores N
  *   --work DIR --out FILE --inputs DIR [--sf-dir DIR]
  */
object Main {
  /** Session re-starts timed for `setup_s`, after the first start. */
  val SetupRestarts = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val master = s"local[$cores]"
    val runId = s"$workloadName-${ProcessHandle.current().pid()}"

    val (coreRatio, coreRate) = Host.coreProbe()
    val load0 = Host.loadAvg()
    val w: Workload = workloadName match {
      case "notion_etl" => new NotionEtl(work, a("inputs"))
      case "commits_and_queries" => new CommitsAndQueries(work, a("inputs"), a("sf-dir"))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: session start, GraftExtensions and the warmup. The first
    // start in the JVM also loads the classes; it is timed on its own,
    // and the re-starts after it (each after stopping the session)
    // give setup_s
    def setUp(): (SparkSession, Double) = {
      val t0 = System.nanoTime()
      val s = Host.session(master, cores, work)
      Host.warmup(s)
      (s, (System.nanoTime() - t0) / 1e9)
    }
    var (spark, firstSetupS) = setUp()
    val setupS = (0 until SetupRestarts).map { _ =>
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val (s, t) = setUp()
      spark = s
      t
    }

    val prepT0 = System.nanoTime()
    w.prepare(spark)
    val prepS = (System.nanoTime() - prepT0) / 1e9

    // one run of the workload's operations in a closed loop (each starts
    // when the previous one returns), in a fresh JVM: cold, as a CLI
    // command or a batch job meets the engine. A traced run is the same
    // run with the listeners attached, so its layers describe what an
    // untraced run times.
    val tracer = new Tracer(spark, runId)
    val runSpan = tracer.newSpanId()
    val ops = new Ops(tracer, runSpan)
    if (trace) tracer.start()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    w.run(spark, ops)
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    if (trace) tracer.stop()
    tracer.span(runSpan, "run", "run", 0L, ms0, ms1)
    val figures: Map[String, Any] = if (!trace) Map.empty else {
      val jobs = tracer.jobs.asScala.toSeq
      val all = Tracer.jobFigures(jobs, ms0, ms1)
      val perOp = ops.records.map { r =>
        val s0 = r("start_ms").asInstanceOf[Long]
        val f = Tracer.jobFigures(jobs, s0, s0 + (r("seconds").asInstanceOf[Double] * 1e3).toLong)
        r("name") -> Map("wall_s" -> r("seconds"), "sched.jobs" -> f("sched.jobs"),
          "sched.job_s" -> f("sched.job_s"), "data.task_s" -> f("data.task_s"))
      }.toMap
      all ++ Map("driver.gap_s" -> (wall - all("sched.job_s")), "ops" -> perOp)
    }

    val outputs = w.outputs(spark)
    val layers = w.layers(spark) ++ (if (!trace) Map.empty else
      tracer.counterNames.map(k => k -> tracer.counter(k)).toMap)
    if (trace) tracer.writeSpans(java.nio.file.Paths.get(work, "trace_spans.jsonl"))
    val heapMb = Host.retainedHeapMb()
    val result = Map(
      "workload" -> workloadName, "run_id" -> runId,
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> master, "core_ratio" -> coreRatio, "core_rate" -> coreRate,
        "loadavg_start" -> load0, "loadavg_end" -> Host.loadAvg(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark_version" -> spark.version),
      "first_setup_s" -> firstSetupS, "setup_s" -> setupS, "prepare_s" -> prepS,
      "wall_s" -> wall, "ops" -> ops.records.toSeq, "figures" -> figures,
      "retained_heap_mb" -> heapMb, "layers" -> layers, "outputs" -> outputs)
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      Json.render(result).getBytes("UTF-8"))
    spark.stop()
  }
}

object Host {
  /** Session as the engine's own bench builds it, with the counting
    * `file://` filesystem the tracer reads. */
  def session(master: String, cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.util.OpMetrics.install(s)
    s
  }

  def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Per-core throughput probe, the same as the engine's Bench: one
    * spinning thread per core for 300 ms; returns (min/max ratio of
    * completed work, max per-core count). */
  def coreProbe(): (Double, Long) = {
    val n = Runtime.getRuntime.availableProcessors()
    val counts = new java.util.concurrent.atomic.AtomicLongArray(n)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (0 until n).map { i =>
      val t = new Thread(() => {
        var x = i.toLong + 1L
        var c = 0L
        while (!stop.get()) {
          var j = 0
          while (j < 10000) {
            x = x * 6364136223846793005L + 1442695040888963407L
            j += 1
          }
          c += 1L
        }
        counts.set(i, math.max(1L, c + (x & 1L)))
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(300L)
    stop.set(true)
    threads.foreach(_.join(2000L))
    val vals = (0 until n).map(counts.get)
    if (vals.exists(_ <= 0L)) (0.0, 0L) else (vals.min.toDouble / vals.max, vals.max)
  }

  /** A small aggregate with a shuffle: loads and compiles the common
    * scan/exchange/aggregate paths. Generic on purpose: the workloads'
    * own code stays cold, as the CLI meets it in a fresh JVM. */
  def warmup(spark: SparkSession): Unit =
    spark.range(0L, 200000L, 1L, 4).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v").collect(): Unit

  /** Driver heap in use after a full collection; the least of three,
    * since Spark's cleaner threads may still hold garbage at any one. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
