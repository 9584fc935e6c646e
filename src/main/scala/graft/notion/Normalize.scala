package graft.notion

import graft.functions.Scalars
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Raw→canonical normalization: the three record builders
  * (SURVEY §2.3 P31) as single `select`s over the raw envelope —
  * buildTimeslice (canon/timeslice.ts:231-320, 25 fields),
  * buildWorkflowDefinition (workflowDefinition.ts:38-61, 8 fields),
  * buildWorkflowStage (workflowStage.ts:93-122, 11 fields).
  *
  * One narrow projection per dataset; no shuffles — normalization is
  * embarrassingly parallel and stays in one codegen stage per scan.
  */
object Normalize {
  import NotionExtract._
  import NotionSchemas._

  /** P1 — page records only (normalizeDatasets.ts:19-21). */
  def pageRecords(raw: DataFrame): DataFrame =
    raw.filter(col("entityType") === "page" &&
      col("pageId").isNotNull && col("pageId") =!= "")

  // try_element_at, NOT element_at: under Spark 4 default ANSI mode a
  // missing map key THROWS (MAP_KEY_DOES_NOT_EXIST); a page whose
  // properties map lacks a configured id must yield null fields like the
  // reference's props[id] -> undefined (same for optional metadata keys)
  private def rawOf(id: String): Column =
    try_element_at(col("properties"), lit(id)).getField("rawValue")

  /** Parse each configured property's rawValue ONCE into a named struct
    * column, then let the extractors reference the parsed attribute.
    * Without this every extractor embeds its own `parsed` (JSON-to-struct)
    * tree — Catalyst's CollapseProject will not re-inline a non-cheap
    * expression referenced more than once, so multiply-used payloads
    * (e.g. started/ended dates) parse once per row, and the analyzed
    * plan shrinks from ~25 payload-schema trees to one per property. */
  private final class ParsedProps(df: DataFrame, ids: Seq[String]) {
    private val aliasOf: Map[String, String] =
      ids.distinct.zipWithIndex.map { case (id, i) => id -> s"_parsed_p$i" }.toMap
    val frame: DataFrame = df.select(
      (col("*") +: aliasOf.toSeq.sortBy(_._2).map { case (id, a) =>
        parsed(rawOf(id)).as(a) }): _*)
    def apply(id: String): Column = col(aliasOf(id))
    def opt(id: Option[String]): Column =
      id.map(apply).getOrElse(lit(null).cast(payloadSchema))
  }

  /** null-preserving stableEntityId (builders keep null when the source
    * id is absent — rules are applied only to present ids). */
  private def idOrNull(prefix: String, src: Column): Column =
    when(src.isNotNull, Scalars.stableEntityId(prefix, src))

  private val metaCreated = try_element_at(col("metadata"), lit("created_time"))
  private val metaUrl = try_element_at(col("metadata"), lit("url"))

  /** JS String(number) rendering: integers print without a decimal
    * point (String(3) = "3", String(3.5) = "3.5"). */
  def jsNumberString(n: Column): Column =
    when(n.isNull, lit(null).cast("string"))
      .when(n === floor(n) && abs(n) < 1e15, n.cast("long").cast("string"))
      .otherwise(n.cast("string"))

  /** P17 computeDurationSeconds on ISO strings (timeslice.ts:219-229).
    * try_to_timestamp: the reference's Date.parse returns NaN (→ null
    * result) on malformed strings; under ANSI mode a plain to_timestamp
    * would throw instead. */
  def durationSeconds(startedAt: Column, endedAt: Column): Column = {
    val s = unix_millis(try_to_timestamp(startedAt))
    val e = unix_millis(try_to_timestamp(endedAt))
    when(startedAt.isNull || endedAt.isNull || s.isNull || e.isNull,
      lit(null).cast("long"))
      .otherwise(greatest(lit(0L), round((e - s) / lit(1000.0)).cast("long")))
  }

  /** buildTimeslice — 25-field canonical projection. */
  def timeslices(raw: DataFrame, cfg: NotionConfig): DataFrame = {
    cfg.validateOrThrow()
    val t = cfg.timeslices
    val p = new ParsedProps(pageRecords(raw),
      Seq(t.workflowDefinitionRel, t.workflowRecordRel, t.workflowInstancePageName,
        t.fromStageRel, t.toStageRel, t.startedAtDate, t.endedAtDate,
        t.fromTaskPageId, t.toTaskPageId, t.fromTaskName, t.toTaskName,
        cfg.workflowDefinitions.title) ++
        Seq(t.fromEventRel, t.toEventRel, t.fromStatus, t.toStatus,
          t.workflowType).flatten)
    val startedAt = coalesce(
      firstRollupDateStart(p(t.startedAtDate)), dateStart(p(t.startedAtDate)))
    val endedAt = coalesce(
      firstRollupDateStart(p(t.endedAtDate)), dateStart(p(t.endedAtDate)))
    val pageTitle = coalesce(
      title(p(cfg.workflowDefinitions.title)),
      firstNonEmptyTitle(map_values(transform_values(col("properties"),
        (_, v) => v.getField("rawValue")))))
    p.frame.select(
      Scalars.stableEntityId("timeslice", col("pageId")).as("timeslice_id"),
      idOrNull("workflow_definition",
        firstRollupRelationId(p(t.workflowDefinitionRel))).as("workflow_definition_id"),
      idOrNull("workflow_record",
        firstRelationId(p(t.workflowRecordRel))).as("workflow_record_id"),
      firstRollupRichText(p(t.workflowInstancePageName)).as("workflow_instance_page_name"),
      idOrNull("event", firstRelationId(p.opt(t.fromEventRel))).as("from_event_id"),
      idOrNull("event", firstRelationId(p.opt(t.toEventRel))).as("to_event_id"),
      firstRollupRichText(p.opt(t.fromStatus)).as("from_status"),
      firstRollupRichText(p.opt(t.toStatus)).as("to_status"),
      formulaString(p.opt(t.workflowType)).as("workflow_type"),
      idOrNull("workflow_stage",
        firstRollupRelationId(p(t.fromStageRel))).as("from_step_id"),
      idOrNull("workflow_stage",
        firstRollupRelationId(p(t.toStageRel))).as("to_step_id"),
      firstRollupRichText(p(t.fromTaskPageId)).as("from_task_page_id"),
      firstRollupRichText(p(t.toTaskPageId)).as("to_task_page_id"),
      firstRollupRichText(p(t.fromTaskName)).as("from_task_name"),
      firstRollupRichText(p(t.toTaskName)).as("to_task_name"),
      startedAt.as("started_at"),
      endedAt.as("ended_at"),
      durationSeconds(startedAt, endedAt).as("duration_seconds"),
      col("pageId").as("source_page_id"),
      col("databaseId").as("source_database_id"),
      metaCreated.as("created_time"),
      col("lastEditedTime").as("last_edited_time"),
      metaUrl.as("page_url"),
      pageTitle.as("page_title"),
      transform_values(col("properties"), (_, v) => v.getField("rawValue")).as("attributes"))
  }

  /** buildWorkflowDefinition — 8-field canonical projection. */
  def workflowDefinitions(raw: DataFrame, cfg: NotionConfig): DataFrame = {
    val titleId = cfg.workflowDefinitions.title
    val allRawValues = map_values(transform_values(col("properties"),
      (_, v) => v.getField("rawValue")))
    // direct single-payload form of titleFromAllProperties over a
    // 1-element array (same result incl. the no-trim join and the
    // null/empty cases) — skips the transform/filter/element_at
    // machinery, which halves this projection's generated code
    val configured =
      if (titleId.trim.nonEmpty) {
        val p = parsed(rawOf(titleId))
        when(p.getField("type") === "title" && p.getField("title").isNotNull,
          nullif(concat_ws("", transform(p.getField("title"),
            t => coalesce(t.getField("plain_text"), lit("")))), lit("")))
          .otherwise(lit(null).cast("string"))
      } else lit(null).cast("string")
    pageRecords(raw).select(
      Scalars.stableEntityId("workflow_definition", col("pageId")).as("workflow_definition_id"),
      col("pageId").as("source_page_id"),
      col("databaseId").as("source_database_id"),
      coalesce(configured, titleFromAllProperties(allRawValues)).as("page_title"),
      metaCreated.as("created_time"),
      col("lastEditedTime").as("last_edited_time"),
      metaUrl.as("page_url"),
      transform_values(col("properties"), (_, v) => v.getField("rawValue")).as("attributes"))
  }

  /** buildWorkflowStage — 11-field canonical projection incl. sort_key. */
  def workflowStages(raw: DataFrame, cfg: NotionConfig): DataFrame = {
    cfg.validateOrThrow()
    val s = cfg.workflowStages
    val p = new ParsedProps(pageRecords(raw),
      Seq(s.workflowDefinitionRel, s.stageNumber, s.stageLabel))
    val wfId = idOrNull("workflow_definition",
      firstRelationId(p(s.workflowDefinitionRel)))
    val stageNumber = numberValue(p(s.stageNumber))
    val stageLabel = firstDisplayText(p(s.stageLabel))
    p.frame.select(
      Scalars.stableEntityId("workflow_stage", col("pageId")).as("workflow_stage_id"),
      wfId.as("workflow_definition_id"),
      col("pageId").as("source_page_id"),
      col("databaseId").as("source_database_id"),
      stageNumber.as("stage_number"),
      stageLabel.as("stage_label"),
      Scalars.sortKey(wfId, jsNumberString(stageNumber), stageLabel, col("pageId"))
        .as("sort_key"),
      metaCreated.as("created_time"),
      col("lastEditedTime").as("last_edited_time"),
      metaUrl.as("page_url"),
      transform_values(col("properties"), (_, v) => v.getField("rawValue")).as("attributes"))
  }
}
