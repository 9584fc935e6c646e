package perfbench

import scala.jdk.CollectionConverters._

/** Call-site attribution on known jobs: a JSONL write through the
  * engine's sink must land on `site.JsonlSink`, a count issued by the
  * harness on `site.bench`. Exits non-zero on a mismatch.
  *
  * Usage: perfbench.SelfTest <work dir>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Host.session("local[2]", 2, work)
    val tracer = new Tracer(spark, "selftest")
    val df = spark.range(0L, 1000L).selectExpr("id", "id % 3 AS k")
    tracer.start()
    val t0 = System.currentTimeMillis()
    graft.sinks.JsonlSink.write(df, s"$work/jsonl", "canon", "selftest", "2026-01-01",
      singleFile = true)
    val t1 = System.currentTimeMillis()
    df.groupBy("k").count().collect()
    tracer.stop()
    val jobs = tracer.jobs.asScala.toSeq
    val sink = jobs.filter(_.startMs <= t1).map(_.site).toSet
    val bench = jobs.filter(_.startMs > t1).map(_.site).toSet
    val fig = Tracer.jobFigures(jobs, t0, t1)
    val ok = sink == Set("JsonlSink") && bench == Set("bench") &&
      fig.get("site.JsonlSink.jobs").exists(_ >= 1) && tracer.counter("fs.write_ops") > 0
    println(Json.render(Map("sink_sites" -> sink, "bench_sites" -> bench,
      "fs.write_ops" -> tracer.counter("fs.write_ops"), "ok" -> ok)))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
