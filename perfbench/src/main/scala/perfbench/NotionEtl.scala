package perfbench

import graft.notion.{Cli, DefaultConfig, NotionApi}
import graft.sinks.pbi.Refresh
import org.apache.spark.sql.SparkSession

/** The reference's own pipeline through the real CLI entry points:
  * pull (recorded Notion payloads) -> normalize -> excel:export ->
  * pbi:provision + pbi:refresh, against the fake Power BI client, into
  * a fresh data directory.
  *
  * `inputs` holds the recorded workspace under `recorded/`.
  */
final class NotionEtl(work: String, inputs: String) extends Workload {
  private val DatabaseIds = Map("workflowDefinitions" -> "db-wf",
    "workflowStages" -> "db-st", "timeslices" -> "db-ts")
  private val RunDate = "2026-03-10"
  private val PullDate = "2026-03-10"
  private val Group = "group-1"
  private val Dataset = "TimeTracking"

  private val dir = s"$work/etl"
  private var outcome = Map.empty[String, Any]

  def prepare(spark: SparkSession): Unit = ()

  def run(spark: SparkSession, ops: Ops): Unit = {
    val client = new Refresh.FakeClient
    val env = Cli.Env(spark, DefaultConfig.config, client, runDate = RunDate,
      log = _ => (), databaseIds = Some(DatabaseIds))
    val pulled = ops("pull", "cli") {
      Cli.pull(env, new NotionApi.RecordedNotionAdapter(s"$inputs/recorded"), dir,
        DatabaseIds, date = PullDate)
    }
    val canon = ops("normalize", "cli")(Cli.normalize(env, dir))
    val star = ops("excel_export", "cli")(Cli.excelExport(env, dir, s"$dir/star.xlsx"))
    val totals = ops("pbi_refresh", "cli") {
      Cli.pbiProvision(env, dir, Group, Dataset)
      Cli.pbiRefresh(env, dir, Group, Dataset)
    }
    outcome = Map(
      "data_dir" -> dir,
      "pulled" -> pulled.getOrElse(Map.empty),
      "canon" -> canon.getOrElse(Map.empty),
      "star" -> star.getOrElse(Map.empty),
      "pbi_tables" -> totals.map(_.tablesProcessed).getOrElse(-1),
      "pbi_rows_posted" -> client.tableRows.map { case (k, rows) =>
        k.split('/').last -> rows.size },
      "pbi_posts" -> client.calls.count(_.startsWith("post:")))
  }

  def layers(spark: SparkSession): Map[String, Double] = {
    val rows = outcome.get("pbi_rows_posted")
      .map(_.asInstanceOf[scala.collection.Map[String, Int]].values.sum.toDouble).getOrElse(0.0)
    val canon = new java.io.File(s"$dir/canon")
    Map("pbi.rows_posted" -> rows,
      "pbi.posts" -> outcome.get("pbi_posts").map(_.asInstanceOf[Int].toDouble).getOrElse(0.0),
      // the reference's sustained Power BI sink ceiling is 250 rows/s
      "pbi.modeled_connector_s" -> rows / 250.0,
      "excel.bytes" -> new java.io.File(s"$dir/star.xlsx").length().toDouble,
      "canon.bytes" ->
        (if (canon.exists) org.apache.commons.io.FileUtils.sizeOfDirectory(canon) else 0L)
          .toDouble)
  }

  def outputs(spark: SparkSession): Map[String, Any] = outcome
}
