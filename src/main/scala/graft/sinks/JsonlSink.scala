package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K1 — JSONL sink with the reference's partitioned dataset layout
  * (src/sinks/jsonlSink.ts + src/lib/fs.ts:8-21):
  * `<base>/<zone>/<dataset>/<YYYY-MM-DD>/…json`.
  *
  * Distributed write by default; `singleFile = true` coalesces for
  * byte-layout parity with the reference's one-file-per-partition form
  * (small canon outputs only — never at 100 TB, where the parallel
  * multi-part write is the point).
  *
  * `coalesce(1)` is a narrow dependency, so it also collapses an
  * unmaterialized upstream into that one task: a scan + parse (or a
  * cache being built) runs serially over every input partition. Cache
  * and materialize the input first (e.g. a parallel `count()`) when it
  * is not trivially small; `coalesce(1)` then reads the materialized
  * partitions in order.
  */
object JsonlSink {

  def datasetDir(base: String, zone: String, dataset: String, date: String): String =
    s"$base/$zone/$dataset/$date"

  def write(df: DataFrame, base: String, zone: String, dataset: String,
            date: String, singleFile: Boolean = false): String = {
    val dir = datasetDir(base, zone, dataset, date)
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").json(dir)
    dir
  }

  /** S4 — read a dataset partition back (explicit schema; never infer
    * in production paths, SURVEY §1.4). */
  def read(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
           base: String, zone: String, dataset: String, date: String): DataFrame =
    spark.read.schema(schema).json(datasetDir(base, zone, dataset, date))

  /** S5 — latest-partition discovery: lexicographically last date dir
    * (src/normalize/io.ts:5-12). */
  def latestDate(spark: SparkSession, base: String, zone: String,
                 dataset: String): Option[String] =
    graft.sources.Tables.latestPartition(spark, s"$base/$zone/$dataset")
}
