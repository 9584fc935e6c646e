package graft.notion

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShims

/** Notion payload extractors (SURVEY §2.3 P2-P11) as pure Column
  * expressions over the parsed payload union — higher-order array
  * functions reproduce the reference's first-match-in-array semantics
  * (JS Array.find / for-continue loops) without UDFs.
  *
  * Every function takes a *parsed* payload struct column (see `parsed`).
  */
object NotionExtract {

  /** Parse a rawValue JSON string against the closed payload union;
    * ragged or malformed JSON decodes to null fields. This is the expression
    * `from_json(rawValue, payloadSchema)` resolves to (same options,
    * time zone from the session), built directly: `from_json` ships the
    * schema as a SQL string that the function registry re-parses, DDL
    * parser first, for every call — about 20 times per normalize plan. */
  def parsed(rawValue: Column): Column =
    GraftSqlShims.column(JsonToStructs(NotionSchemas.payloadSchema, Map.empty,
      GraftSqlShims.expression(rawValue)))

  private def nonEmpty(c: Column): Column = c.isNotNull && c =!= ""

  /** P2 extractDateStart (timeslice.ts:36-72): native date start; rollup
    * date start; or FIRST date-typed rollup array item's start (which may
    * itself be null — JS returns it as-is). */
  def dateStart(p: Column): Column = {
    val firstDateItem = try_element_at(
      filter(p.getField("rollup").getField("array"), x => x.getField("type") === "date"), lit(1))
    when(p.getField("type") === "date", p.getField("date").getField("start"))
      .when(p.getField("type") === "rollup" && p.getField("rollup").getField("type") === "date",
        p.getField("rollup").getField("date").getField("start"))
      .when(p.getField("type") === "rollup" && p.getField("rollup").getField("type") === "array",
        firstDateItem.getField("date").getField("start"))
      .otherwise(lit(null).cast("string"))
  }

  /** P3 extractFirstRelationId (timeslice.ts:74-84): only the FIRST
    * relation element is considered; empty id → null. */
  def firstRelationId(p: Column): Column = {
    val id = try_element_at(p.getField("relation"), lit(1)).getField("id")
    when(p.getField("type") === "relation" && size(p.getField("relation")) > 0 && nonEmpty(id), id)
      .otherwise(lit(null).cast("string"))
  }

  /** P4 extractFirstRollupRelationId (timeslice.ts:86-113): first
    * non-empty id among each item's first relation element (items whose
    * first id is empty are skipped — for-continue semantics). */
  def firstRollupRelationId(p: Column): Column = {
    val ids = transform(p.getField("rollup").getField("array"),
      x => try_element_at(x.getField("relation"), lit(1)).getField("id"))
    val first = try_element_at(filter(ids, id => id.isNotNull && id =!= ""), lit(1))
    when(p.getField("type") === "rollup" && p.getField("rollup").getField("type") === "array", first)
      .otherwise(lit(null).cast("string"))
  }

  /** P5 extractFirstRollupDateStart (timeslice.ts:115-142): first date
    * item with a non-empty start. */
  def firstRollupDateStart(p: Column): Column = {
    val starts = transform(p.getField("rollup").getField("array"),
      x => when(x.getField("type") === "date", x.getField("date").getField("start")))
    val first = try_element_at(filter(starts, s => s.isNotNull && s =!= ""), lit(1))
    when(p.getField("type") === "rollup" && p.getField("rollup").getField("type") === "array", first)
      .otherwise(lit(null).cast("string"))
  }

  /** P6 extractFirstRollupRichTextPlainText (timeslice.ts:144-175):
    * per rich_text item join plain_texts (null→'') and trim; first
    * non-empty wins. */
  def firstRollupRichText(p: Column): Column = {
    val joined = transform(p.getField("rollup").getField("array"),
      x => when(x.getField("type") === "rich_text" && x.getField("rich_text").isNotNull,
        trim(concat_ws("", transform(x.getField("rich_text"),
          t => coalesce(t.getField("plain_text"), lit("")))))))
    val first = try_element_at(filter(joined, s => s.isNotNull && s =!= ""), lit(1))
    when(p.getField("type") === "rollup" && p.getField("rollup").getField("type") === "array", first)
      .otherwise(lit(null).cast("string"))
  }

  /** P7 extractTitle (timeslice.ts:177-189): join plain_texts; trimmed
    * empty → null. */
  def title(p: Column): Column =
    when(p.getField("type") === "title" && p.getField("title").isNotNull,
      nullif(trim(concat_ws("", transform(p.getField("title"),
        t => coalesce(t.getField("plain_text"), lit(""))))), lit("")))
      .otherwise(lit(null).cast("string"))

  /** P8 extractFormulaString (timeslice.ts:191-203). */
  def formulaString(p: Column): Column =
    when(p.getField("type") === "formula" &&
        p.getField("formula").getField("type") === "string",
      nullif(trim(coalesce(p.getField("formula").getField("string"), lit(""))), lit("")))
      .otherwise(lit(null).cast("string"))

  /** P9 firstDisplayText (workflowStage.ts:34-66): dispatch on payload
    * type over title / rich_text / select / status. */
  def firstDisplayText(p: Column): Column = {
    def joinedOf(field: String): Column =
      nullif(trim(concat_ws("", transform(p.getField(field),
        t => coalesce(t.getField("plain_text"), lit(""))))), lit(""))
    when(p.getField("type") === "title" && p.getField("title").isNotNull, joinedOf("title"))
      .when(p.getField("type") === "rich_text" && p.getField("rich_text").isNotNull,
        joinedOf("rich_text"))
      .when(p.getField("type") === "select",
        nullif(trim(coalesce(p.getField("select").getField("name"), lit(""))), lit("")))
      .when(p.getField("type") === "status",
        nullif(trim(coalesce(p.getField("status").getField("name"), lit(""))), lit("")))
      .otherwise(lit(null).cast("string"))
  }

  /** P10 extractNumber (workflowStage.ts:68-77 + rules.ts:23-32):
    * number payload; numeric strings coerce, junk → null. */
  def numberValue(p: Column): Column =
    when(p.getField("type") === "number",
      p.getField("number").try_cast(org.apache.spark.sql.types.DoubleType))
      .otherwise(lit(null).cast("double"))

  /** P11 extractTitleFromRawProperties (workflowDefinition.ts:19-36):
    * scan ALL property payloads in map order; the FIRST title-typed
    * property decides (even if its join is empty → null). */
  def titleFromAllProperties(propsRawValues: Column): Column = {
    val parsedAll = transform(propsRawValues, v => parsed(v))
    val firstTitle = try_element_at(
      filter(parsedAll, x => x.getField("type") === "title" && x.getField("title").isNotNull), lit(1))
    when(firstTitle.isNotNull,
      nullif(concat_ws("", transform(firstTitle.getField("title"),
        t => coalesce(t.getField("plain_text"), lit("")))), lit("")))
      .otherwise(lit(null).cast("string"))
  }

  /** Timeslice-style page-title fallback scan (timeslice.ts:259-266):
    * first property whose extractTitle yields a NON-EMPTY string. */
  def firstNonEmptyTitle(propsRawValues: Column): Column = {
    val titles = transform(propsRawValues, v => title(parsed(v)))
    try_element_at(filter(titles, t => t.isNotNull && t =!= ""), lit(1))
  }
}
