package graft.queries

import graft.QueryModule
import graft.notion._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gated Notion-domain parity: each query runs the real
  * normalize/quality/derive pipeline over the canonical fixture records
  * (embedded JSONL mirroring the reference's test fixtures) and the
  * oracle recomputes the expected rows in DuckDB — literals where the
  * reference pins exact values (normalize.test.ts), expressions
  * (sha256, OLE arithmetic, tz conversion) where derivable. This puts
  * reference parity itself into the per-round correctness gate.
  */
object NotionParity extends QueryModule {

  import graft.NotionFixturesData._

  private def rawDf(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(NotionSchemas.rawRecordSchema).json(lines.toDS())
  }

  /** Normalized timeslice projection — exact values pinned by
    * normalize.test.ts:27-44. */
  def qNotionNormalize(spark: SparkSession, dir: String): DataFrame =
    Normalize.timeslices(rawDf(spark, Seq(timesliceJson, dbJson)), cfg)
      .select(col("timeslice_id"), col("workflow_definition_id"),
        col("workflow_record_id"), col("from_step_id"), col("to_step_id"),
        col("started_at"), col("ended_at"), col("duration_seconds"),
        col("workflow_instance_page_name"), col("page_title"))
      .orderBy(col("timeslice_id"))

  /** Normalized stage projection incl. the composite sort_key. */
  def qNotionStage(spark: SparkSession, dir: String): DataFrame =
    Normalize.workflowStages(rawDf(spark, Seq(stageJson)), cfg)
      .select(col("workflow_stage_id"), col("workflow_definition_id"),
        col("stage_number"), col("stage_label"), col("sort_key"))

  /** Quality rules over a crafted canon set: deterministic issue ids
    * recomputed by the oracle via sha256 of the same composite key. */
  def qNotionQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val crafted = Seq(
      ("timeslice_x1", Option.empty[String], Option("workflow_stage_b"),
        Option.empty[String], Option.empty[String], Option.empty[String]),
      ("timeslice_x2", Option("workflow_definition_a"), Option("workflow_stage_b"),
        Option.empty[String], Option.empty[String], Option.empty[String]),
      ("timeslice_x3", Option("workflow_definition_a"), Option.empty[String],
        Option.empty[String], Option("2026-02-01T12:10:00.000Z"),
        Option("2026-02-01T12:00:00.000Z")))
      .toDF("timeslice_id", "workflow_definition_id", "from_step_id",
        "to_step_id", "started_at", "ended_at")
    Quality.timesliceIssues(crafted, "2026-02-01")
      .select(col("rule"), col("entity_id"), col("severity"), col("issue_id"))
      .orderBy(col("rule"), col("entity_id"))
  }

  /** Derived fact row: label fallbacks, OLE serial, minutes diff, LA
    * day — oracle recomputes the serial/day with DuckDB arithmetic. */
  def qNotionDeriveFact(spark: SparkSession, dir: String): DataFrame = {
    val defs = Normalize.workflowDefinitions(rawDf(spark, Seq(defJson)), cfg)
    val stages = Normalize.workflowStages(rawDf(spark, Seq(stageJson)), cfg)
    val ts = Normalize.timeslices(rawDf(spark,
      Seq(timesliceJson.replace("bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb",
        "22222222-2222-2222-2222-222222222222"))), cfg)
    Derive.factTimeslices(ts, defs, stages)
      .select(col("Name").as("name"),
        col("Workflow Definition").as("workflow_definition"),
        col("From Step N").as("from_step_n"),
        col("From Workflow Step").as("from_workflow_step"),
        col("Minutes Diff").as("minutes_diff"),
        col("From Time").as("from_time"),
        col("To DateTime").as("to_datetime"),
        col("To Date").as("to_date"),
        col("from_stage_key"))
  }

  /** DimStage color parity: sha256-palette assignment recomputed in the
    * oracle from the same digest arithmetic. */
  def qNotionColor(spark: SparkSession, dir: String): DataFrame = {
    val defs = Normalize.workflowDefinitions(rawDf(spark, Seq(defJson)), cfg)
    val stages = Normalize.workflowStages(rawDf(spark, Seq(stageJson)), cfg)
    Derive.dimStage(stages, defs)
      .select(col("stage_key"), col("color_hex"), col("stage_n"),
        col("Stage Label").as("stage_label"), col("workflow_definition"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_notion_normalize"   -> qNotionNormalize _,
    "q_notion_stage"       -> qNotionStage _,
    "q_notion_quality"     -> qNotionQuality _,
    "q_notion_derive_fact" -> qNotionDeriveFact _,
    "q_notion_color"       -> qNotionColor _)

  private val paletteSql = Derive.ColorHexValues.map(c => s"'$c'").mkString("[", ", ", "]")
  private val hex8 = {
    val weights = Seq(268435456L, 16777216L, 1048576L, 65536L, 4096L, 256L, 16L, 1L)
    weights.zipWithIndex.map { case (w, i) =>
      s"(strpos('0123456789abcdef', substr(h, ${i + 1}, 1)) - 1) * $w"
    }.mkString("(", " + ", ")")
  }

  val oracleSql: Map[String, String] = Map(
    "q_notion_normalize" ->
      """SELECT 'timeslice_123456781234123412341234567890ab' AS timeslice_id,
        |  'workflow_definition_aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa' AS workflow_definition_id,
        |  'workflow_record_eeeeeeeeeeeeeeeeeeeeeeeeeeeeeeee' AS workflow_record_id,
        |  'workflow_stage_bbbbbbbbbbbbbbbbbbbbbbbbbbbbbbbb' AS from_step_id,
        |  'workflow_stage_cccccccccccccccccccccccccccccccc' AS to_step_id,
        |  '2026-02-01T12:00:00.000Z' AS started_at,
        |  '2026-02-01T12:05:00.000Z' AS ended_at,
        |  CAST(300 AS BIGINT) AS duration_seconds,
        |  'Instance A' AS workflow_instance_page_name,
        |  'Example Slice' AS page_title""".stripMargin,
    "q_notion_stage" ->
      """SELECT 'workflow_stage_22222222222222222222222222222222' AS workflow_stage_id,
        |  'workflow_definition_aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa' AS workflow_definition_id,
        |  CAST(3.0 AS DOUBLE) AS stage_number,
        |  'Approved' AS stage_label,
        |  'workflow_definition_aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa|3|approved|22222222-2222-2222-2222-222222222222' AS sort_key""".stripMargin,
    "q_notion_quality" ->
      """WITH issues(rule, entity_id, severity) AS (VALUES
        |  ('FROM_STEP_WITHOUT_STARTED_AT', 'timeslice_x1', 'warn'),
        |  ('FROM_STEP_WITHOUT_STARTED_AT', 'timeslice_x2', 'warn'),
        |  ('MISSING_WORKFLOW_DEFINITION', 'timeslice_x1', 'error'),
        |  ('NEGATIVE_DURATION', 'timeslice_x3', 'warn'),
        |  ('STEPS_WITHOUT_ANY_TIMESTAMP', 'timeslice_x1', 'warn'),
        |  ('STEPS_WITHOUT_ANY_TIMESTAMP', 'timeslice_x2', 'warn'),
        |  ('WORKFLOW_WITH_NO_STEPS', 'timeslice_x3', 'warn'))
        |SELECT rule, entity_id, severity,
        |  sha256('2026-02-01' || '|timeslices|' || entity_id || '|' || rule) AS issue_id
        |FROM issues ORDER BY rule, entity_id""".stripMargin,
    "q_notion_derive_fact" ->
      """SELECT 'Example Slice' AS name,
        |  'My Workflow' AS workflow_definition,
        |  CAST(3 AS BIGINT) AS from_step_n,
        |  'Approved' AS from_workflow_step,
        |  CAST(5 AS BIGINT) AS minutes_diff,
        |  (epoch_ms(TIMESTAMP '2026-02-01 12:00:00') + 2209161600000) / 86400000.0 AS from_time,
        |  '2026-02-01T12:05:00.000Z' AS to_datetime,
        |  strftime((TIMESTAMP '2026-02-01 12:05:00' AT TIME ZONE 'UTC')
        |    AT TIME ZONE 'America/Los_Angeles', '%Y-%m-%dT00:00:00.000Z') AS to_date,
        |  '22222222-2222-2222-2222-222222222222' AS from_stage_key""".stripMargin,
    "q_notion_color" ->
      s"""WITH s AS (SELECT '22222222-2222-2222-2222-222222222222' AS stage_key),
         |h AS (SELECT stage_key, sha256(stage_key) AS h FROM s)
         |SELECT stage_key,
         |  ($paletteSql)[CAST($hex8 % 36 AS INT) + 1] AS color_hex,
         |  CAST(3 AS BIGINT) AS stage_n,
         |  '03. Approved' AS stage_label,
         |  'My Workflow' AS workflow_definition
         |FROM h""".stripMargin)
}
