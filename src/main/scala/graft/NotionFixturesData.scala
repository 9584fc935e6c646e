package graft

import graft.notion.NotionSchemas
import org.apache.spark.sql.DataFrame

object NotionFixturesData {
  import graft.notion.NotionSchemas._

  val cfg: NotionConfig = NotionConfig(
    timeslices = TimeslicePropertyIds(
      workflowDefinitionRel = "rel_workflow",
      workflowRecordRel = "rel_workflow_record",
      workflowInstancePageName = "rollup_instance_name",
      fromStageRel = "rel_from_step",
      toStageRel = "rel_to_step",
      startedAtDate = "start_date",
      endedAtDate = "end_date",
      fromTaskPageId = "rt_from_task_page",
      toTaskPageId = "rt_to_task_page",
      fromTaskName = "rt_from_task_name",
      toTaskName = "rt_to_task_name"),
    workflowStages = WorkflowStagePropertyIds(
      workflowDefinitionRel = "wf_rel",
      stageNumber = "stage_number",
      stageLabel = "stage_label"),
    workflowDefinitions = WorkflowDefinitionPropertyIds(title = "title_prop"))

  private def prop(id: String, ptype: String, rawValueJson: String): String =
    s""""$id": {"propertyId": "$id", "propertyName": "$id", "propertyType": "$ptype",
       |  "rawValue": ${escape(rawValueJson)}}""".stripMargin
  private def escape(json: String): String =
    "\"" + json.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def relation(id: String): String =
    s"""{"type":"relation","relation":[{"id":"$id"}]}"""
  private def rollupRelation(id: String): String =
    s"""{"type":"rollup","rollup":{"type":"array","array":[{"type":"relation","relation":[{"id":"$id"}]}],"function":"show_original"}}"""
  private def rollupDate(start: String): String =
    s"""{"type":"rollup","rollup":{"type":"array","array":[{"type":"date","date":{"start":"$start"}}],"function":"show_original"}}"""
  private def rollupRichText(text: String): String =
    s"""{"type":"rollup","rollup":{"type":"array","array":[{"type":"rich_text","rich_text":[{"plain_text":"$text"}]}]}}"""
  private def dateP(start: String): String =
    s"""{"type":"date","date":{"start":"$start","end":null,"time_zone":null}}"""
  private def titleP(text: String): String =
    s"""{"type":"title","title":[{"plain_text":"$text"}]}"""

  /** Timeslice raw record (fixtures.ts:3-89) incl. misleading
    * relation/date distractors. */
  val timesliceJson: String =
    s"""{"source":"notion","entityType":"page",
       |"databaseId":"db-ts","pageId":"12345678-1234-1234-1234-1234567890ab",
       |"lastEditedTime":"2026-02-01T12:10:00.000Z",
       |"properties":{
       |${prop("title_prop", "title", titleP("Example Slice"))},
       |${prop("rel_workflow", "rollup", rollupRelation("aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"))},
       |${prop("rel_workflow_record", "relation", relation("eeeeeeee-eeee-eeee-eeee-eeeeeeeeeeee"))},
       |${prop("rollup_instance_name", "rollup", rollupRichText("Instance A"))},
       |${prop("rel_from_step", "rollup", rollupRelation("bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb"))},
       |${prop("rel_to_step", "rollup", rollupRelation("cccccccc-cccc-cccc-cccc-cccccccccccc"))},
       |${prop("start_date", "date", dateP("2026-02-01T12:00:00.000Z"))},
       |${prop("end_date", "date", dateP("2026-02-01T12:05:00.000Z"))},
       |${prop("rt_from_task_page", "rollup", rollupRichText("task-page-1"))},
       |${prop("rt_to_task_page", "rollup", rollupRichText("task-page-2"))},
       |${prop("rt_from_task_name", "rollup", rollupRichText("Task One"))},
       |${prop("rt_to_task_name", "rollup", rollupRichText("Task Two"))},
       |${prop("misleading_relation", "rollup", rollupRelation("dddddddd-dddd-dddd-dddd-dddddddddddd"))},
       |${prop("misleading_date", "date", dateP("2026-02-01T20:00:00.000Z"))}
       |},
       |"metadata":{"created_time":"2026-02-01T12:00:00.000Z","url":"https://notion.so/page"}}"""
      .stripMargin.replace("\n", " ")

  /** Workflow stage raw record (fixtures.ts:91-150). */
  val stageJson: String =
    s"""{"source":"notion","entityType":"page",
       |"databaseId":"db-st","pageId":"22222222-2222-2222-2222-222222222222",
       |"lastEditedTime":"2026-02-01T10:00:00.000Z",
       |"properties":{
       |${prop("wf_rel", "relation", relation("aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"))},
       |${prop("stage_number", "number", """{"type":"number","number":3}""")},
       |${prop("stage_label", "rich_text", """{"type":"rich_text","rich_text":[{"plain_text":"Approved"}]}""")},
       |${prop("misleading_rel", "relation", relation("ffffffff-ffff-ffff-ffff-ffffffffffff"))},
       |${prop("misleading_number", "number", """{"type":"number","number":999}""")}
       |},
       |"metadata":{"created_time":"2026-01-01T00:00:00.000Z","url":"https://notion.so/stage"}}"""
      .stripMargin.replace("\n", " ")

  /** Workflow definition raw record. */
  val defJson: String =
    s"""{"source":"notion","entityType":"page",
       |"databaseId":"db-wf","pageId":"aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa",
       |"lastEditedTime":"2026-01-15T00:00:00.000Z",
       |"properties":{
       |${prop("title_prop", "title", titleP("My Workflow"))}
       |},
       |"metadata":{"created_time":"2026-01-01T00:00:00.000Z","url":"https://notion.so/wf"}}"""
      .stripMargin.replace("\n", " ")

  /** Synthetic database-entity record (must be filtered out, P1). */
  val dbJson: String =
    """{"source":"notion","entityType":"database","databaseId":"db-ts","pageId":null,
      |"lastEditedTime":null,"properties":{},"metadata":{}}""".stripMargin.replace("\n", " ")

  def readRaw(spark: org.apache.spark.sql.SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(NotionSchemas.rawRecordSchema).json(lines.toDS())
  }
}

