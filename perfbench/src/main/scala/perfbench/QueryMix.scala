package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Read-only analytic queries from the engine's query surface
  * (`SparkEntry.queries`) over the fixed sf0.1 tables; none of them
  * writes the workload's tables or runs a stream (side-car epochs go to
  * the engine's scratch directory). One operation runs one query
  * and writes its result as one parquet file, as the engine's `Verify`
  * dumps it for the DuckDB oracle. The seed only permutes the order.
  *
  * `inputs` holds `queries.txt`: one query name a line, in run order.
  */
final class QueryMix(work: String, inputs: String, sfDir: String) {
  private val out = s"$work/results"

  private lazy val names: Seq[String] = java.nio.file.Files.readAllLines(
    java.nio.file.Paths.get(inputs, "queries.txt")).toArray.toSeq.map(_.toString)
    .filter(_.nonEmpty)

  private def moduleOf(name: String): String =
    SparkEntry.modules.find(_.queries.contains(name))
      .map(_.getClass.getSimpleName.stripSuffix("$"))
      .getOrElse(sys.error(s"unknown query $name"))

  def run(spark: SparkSession, ops: Ops): Unit = {
    // naive timestamps in the dumps, as Verify writes them for the oracle
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    names.foreach { n =>
      val query = SparkEntry.queries(n)
      ops(n, moduleOf(n)) {
        query(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      }
      // operator caches must not carry over to the next query
      spark.catalog.clearCache()
    }
  }

  def outputs: Map[String, Any] = Map(
    "results_dir" -> out,
    "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
}
