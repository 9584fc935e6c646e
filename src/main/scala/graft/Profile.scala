package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.util.control.NonFatal

/** Measurement harness (guide §1): run named queries with a listener
  * that attributes wall time to Spark JOBS (call site + description),
  * so optimization targets the stage that actually costs, not a guess.
  * Not part of the driver contract — prints a human table, changes no
  * query. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.Profile q_mv_join,q_merge_eq"
  */
object Profile {
  private case class JobRec(id: Int, desc: String, site: String,
                            started: Long, var ended: Long = 0L,
                            var tasks: Int = 0,
                            var shufRead: Long = 0L, var shufWrite: Long = 0L,
                            var input: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q1_agg"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.OpMetrics.install(spark)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        // the result stage's name is the action's call site ("parquet at
        // Foo.scala:123") — the attribution that matters for job-count hunts
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, desc, site, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.ended = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        // attribute to the newest unfinished job (single-threaded driver here)
        val m = e.taskMetrics
        if (m != null) jobs.values.toSeq.reverse.find(_.ended == 0L).foreach { j =>
          j.tasks += 1
          j.shufRead += m.shuffleReadMetrics.totalBytesRead
          j.shufWrite += m.shuffleWriteMetrics.bytesWritten
          j.input += m.inputMetrics.bytesRead
        }
      }
    }
    // warmup
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) =>
      // a failed warmup leaves session startup in the first query's
      // wall — say so instead of timing it silently
      System.err.println(s"[profile] warmup q1_agg failed: $e") }
    spark.catalog.clearCache()
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener drain
      val js = jobs.synchronized(jobs.values.toSeq)
      val jobSum = js.map(j => (j.ended - j.started) / 1e3).sum
      println(f"%n== $name  wall=$wall%.2fs  jobs=${js.size}  jobtime=$jobSum%.2fs  (gap=${wall - jobSum}%.2fs driver/planning)")
      // by call site: where do the jobs come from, what do they cost
      js.groupBy(j => if (j.desc.nonEmpty) j.desc else j.site).toSeq
        .map { case (site, g) =>
          (site, g.size, g.map(j => (j.ended - j.started) / 1e3).sum) }
        .sortBy(-_._3).take(25).foreach { case (site, n, t) =>
          println(f"   ${t}%7.3fs  n=$n%4d  $site")
        }
      Console.out.flush()
    }
    spark.stop()
  }
}
