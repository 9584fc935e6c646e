package graft.notion

import org.apache.spark.sql.types._

/** Schemas + configuration for the Notion ingestion domain.
  *
  * Raw envelope mirrors the reference's RawRecord
  * (src/ingress/rawRecord.ts:3-18): an envelope plus a property-ID-keyed
  * map whose `rawValue` carries the untouched Notion payload. We keep
  * `rawValue` as a JSON *string* in the raw layer (schema-free fidelity)
  * and decode it on demand with `NotionExtract.parsed` (a JSON-to-struct
  * expression) against the closed payload union below — ragged payloads
  * become nulls, never errors.
  */
object NotionSchemas {

  /** Closed union of Notion property payload shapes used by the
    * extractors (src/canon/timeslice.ts:36-203, workflowStage.ts:34-77).
    * Every field nullable; `number` parsed as string then try_cast so
    * numeric strings behave like the reference's Number() coercion
    * (canon/rules.ts:23-32). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("date", StructType(Seq(
      StructField("start", StringType),
      StructField("end", StringType),
      StructField("time_zone", StringType)))),
    StructField("relation", ArrayType(StructType(Seq(
      StructField("id", StringType))))),
    StructField("rollup", StructType(Seq(
      StructField("type", StringType),
      StructField("date", StructType(Seq(
        StructField("start", StringType)))),
      StructField("array", ArrayType(StructType(Seq(
        StructField("type", StringType),
        StructField("date", StructType(Seq(
          StructField("start", StringType)))),
        StructField("relation", ArrayType(StructType(Seq(
          StructField("id", StringType))))),
        StructField("rich_text", ArrayType(StructType(Seq(
          StructField("plain_text", StringType))))))))),
      StructField("function", StringType)))),
    StructField("title", ArrayType(StructType(Seq(
      StructField("plain_text", StringType))))),
    StructField("rich_text", ArrayType(StructType(Seq(
      StructField("plain_text", StringType))))),
    StructField("formula", StructType(Seq(
      StructField("type", StringType),
      StructField("string", StringType)))),
    StructField("select", StructType(Seq(StructField("name", StringType)))),
    StructField("status", StructType(Seq(StructField("name", StringType)))),
    StructField("number", StringType)))

  /** Raw record envelope (JSONL at rest). `properties` values keep
    * rawValue as a JSON string. */
  val rawRecordSchema: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("entityType", StringType),
    StructField("databaseId", StringType),
    StructField("pageId", StringType),
    StructField("lastEditedTime", StringType),
    StructField("properties", MapType(StringType, StructType(Seq(
      StructField("propertyId", StringType),
      StructField("propertyName", StringType),
      StructField("propertyType", StringType),
      StructField("rawValue", StringType))))),
    StructField("metadata", MapType(StringType, StringType))))

  /** Property-ID bindings (src/config/env.ts:121-156). Optional logical
    * fields are None; empty strings are a config error (fail fast). */
  case class TimeslicePropertyIds(
    workflowDefinitionRel: String,
    workflowRecordRel: String,
    workflowInstancePageName: String,
    fromStageRel: String,
    toStageRel: String,
    startedAtDate: String,
    endedAtDate: String,
    fromTaskPageId: String,
    toTaskPageId: String,
    fromTaskName: String,
    toTaskName: String,
    fromStatus: Option[String] = None,
    toStatus: Option[String] = None,
    workflowType: Option[String] = None,
    fromEventRel: Option[String] = None,
    toEventRel: Option[String] = None)

  case class WorkflowStagePropertyIds(
    workflowDefinitionRel: String,
    stageNumber: String,
    stageLabel: String)

  case class WorkflowDefinitionPropertyIds(title: String)

  case class NotionConfig(
    timeslices: TimeslicePropertyIds,
    workflowStages: WorkflowStagePropertyIds,
    workflowDefinitions: WorkflowDefinitionPropertyIds) {

    /** Fail-fast validation (env.ts:177-216): blank configured IDs are
      * fatal before any work is scheduled. */
    def validateOrThrow(): Unit = {
      def blank(dataset: String, pairs: (String, String)*): Seq[String] =
        pairs.collect { case (k, v) if v.trim.isEmpty => s"$dataset: $k" }
      val t = timeslices
      val missing =
        blank("timeslices",
          "workflowDefinitionRel" -> t.workflowDefinitionRel,
          "workflowRecordRel" -> t.workflowRecordRel,
          "workflowInstancePageName" -> t.workflowInstancePageName,
          "fromStageRel" -> t.fromStageRel,
          "toStageRel" -> t.toStageRel,
          "startedAtDate" -> t.startedAtDate,
          "endedAtDate" -> t.endedAtDate,
          "fromTaskPageId" -> t.fromTaskPageId,
          "toTaskPageId" -> t.toTaskPageId,
          "fromTaskName" -> t.fromTaskName,
          "toTaskName" -> t.toTaskName) ++
        Seq(t.fromStatus, t.toStatus, t.workflowType, t.fromEventRel, t.toEventRel)
          .flatten.filter(_.trim.isEmpty).map(_ => "timeslices: optional id blank") ++
        blank("workflowStages",
          "workflowDefinitionRel" -> workflowStages.workflowDefinitionRel,
          "stageNumber" -> workflowStages.stageNumber,
          "stageLabel" -> workflowStages.stageLabel) ++
        blank("workflowDefinitions", "title" -> workflowDefinitions.title)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"Missing configured Notion property IDs (${missing.mkString("; ")}).")
    }
  }
}
