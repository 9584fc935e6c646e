package graft

import graft.notion._
import graft.sinks.pbi.Refresh
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end CLI flows over a staged raw data dir: normalize →
  * excel:export → pbi:provision → pbi:refresh, entirely offline
  * (fixtures + fake client), mirroring `run:end-to-end`. */
class CliSpec extends AnyFunSuite {
  import TestSpark._

  private def stageRawData(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli").toString
    def write(ds: String, lines: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(s"$dir/raw/$ds/2026-08-12")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("records.jsonl"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    // make the timeslice's from_step resolve to the fixture stage page
    val tsResolvable = NotionFixtures.timesliceJson.replace(
      "bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb", "22222222-2222-2222-2222-222222222222")
    val tsMissingWf = NotionFixtures.timesliceJson
      .replace("12345678-1234-1234-1234-1234567890ab", "99999999-9999-9999-9999-999999999999")
      .replace("\"rel_workflow\": {", "\"rel_workflow_zzz\": {")
    write("timeslices", Seq(tsResolvable, tsMissingWf, NotionFixtures.dbJson))
    write("workflowStages", Seq(NotionFixtures.stageJson))
    write("workflowDefinitions", Seq(NotionFixtures.defJson))
    dir
  }

  test("normalize -> excel:export -> pbi:provision -> pbi:refresh, offline end-to-end") {
    val dataDir = stageRawData()
    val client = new Refresh.FakeClient
    val env = Cli.Env(spark, NotionFixtures.cfg, client,
      runDate = "2026-08-12", log = _ => ())

    val counts = Cli.normalize(env, dataDir)
    assert(counts("timeslices") == 1, "missing-wf timeslice excluded")
    assert(counts("qualityIssues") == 1)

    val xlsx = s"$dataDir/out.xlsx"
    val tableCounts = Cli.excelExport(env, dataDir, xlsx)
    assert(tableCounts.keySet == notion.Derive.ExpectedTables.toSet)
    assert(tableCounts("FactTimeslices") == 1)
    assert(tableCounts("StageOccupancy_Hourly") == 1)
    assert(new java.io.File(xlsx).length() > 0)
    // the returned counts are the workbook's own data rows per sheet
    val zip = new java.util.zip.ZipFile(xlsx)
    val sheetRows = try {
      def entry(n: String) = scala.io.Source.fromInputStream(
        zip.getInputStream(zip.getEntry(n)), "UTF-8").mkString
      "<sheet name=\"([^\"]+)\" sheetId=\"(\\d+)\"".r
        .findAllMatchIn(entry("xl/workbook.xml")).map { m =>
          m.group(1) -> ("<row ".r.findAllIn(
            entry(s"xl/worksheets/sheet${m.group(2)}.xml")).length - 1L)
        }.toMap
    } finally zip.close()
    assert(sheetRows == tableCounts)

    val dsId = Cli.pbiProvision(env, dataDir, "group-1", "TimeTracking")
    val totals = Cli.pbiRefresh(env, dataDir, "group-1", "TimeTracking")
    assert(totals.tablesProcessed == 7)
    assert(totals.totalRowsPosted ==
      tableCounts.values.sum, "every derived row posted")
    assert(client.tableRows(s"group-1/$dsId/FactTimeslices").size == 1)
  }

  test("normalize writes canon qualityIssues in Quality.allIssues union order: timeslice rules, then the stage rule") {
    val dataDir = stageRawData()
    // a second stage without a label fires STAGE_MISSING_LABEL_OR_NUMBER
    // beside the fixture's MISSING_WORKFLOW_DEFINITION timeslice
    val stageNoLabel = NotionFixtures.stageJson
      .replace("22222222-2222-2222-2222-222222222222",
        "33333333-3333-3333-3333-333333333333")
      .replace("\"stage_label\": {", "\"stage_label_zzz\": {")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dataDir/raw/workflowStages/2026-08-12/records.jsonl"),
      Seq(NotionFixtures.stageJson, stageNoLabel).mkString("\n").getBytes("UTF-8"))
    val env = Cli.Env(spark, NotionFixtures.cfg, runDate = "2026-08-12", log = _ => ())
    assert(Cli.normalize(env, dataDir)("qualityIssues") == 2)
    val dir = new java.io.File(
      sinks.JsonlSink.datasetDir(dataDir, "canon", "qualityIssues", "2026-08-12"))
    val files = dir.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.length() > 0)
    assert(files.length == 1, s"one canon file, got ${files.map(_.getName).toSeq}")
    val rules = java.nio.file.Files.readAllLines(files.head.toPath).asScala.toSeq
      .filter(_.nonEmpty)
      .map(l => "\"rule\":\"([A-Z_]+)\"".r.findFirstMatchIn(l).get.group(1))
      .toSeq
    assert(rules == Seq("MISSING_WORKFLOW_DEFINITION",
      "STAGE_MISSING_LABEL_OR_NUMBER"), s"canon order: $rules")
  }

  test("normalize, excel:export and pbi:refresh leave no cached relation in the session") {
    spark.sharedState.cacheManager.clearCache()
    val dataDir = stageRawData()
    val env = Cli.Env(spark, NotionFixtures.cfg, runDate = "2026-08-12", log = _ => ())
    Cli.normalize(env, dataDir)
    Cli.excelExport(env, dataDir, s"$dataDir/out.xlsx")
    Cli.pbiProvision(env, dataDir, "group-1", "TimeTracking")
    Cli.pbiRefresh(env, dataDir, "group-1", "TimeTracking")
    assert(spark.sharedState.cacheManager.isEmpty,
      "a command's caches must not outlive it: a later command would silently reuse them")
  }

  private def xlsxEntries(path: String): Map[String, Seq[Byte]] = {
    val zip = new java.util.zip.ZipFile(path)
    try zip.entries().asScala.map(_.getName).filter(_.startsWith("xl/worksheets/sheet"))
      .map(n => n -> zip.getInputStream(zip.getEntry(n)).readAllBytes().toSeq).toMap
    finally zip.close()
  }

  test("excel:export run twice on the same canon writes byte-identical sheets") {
    val dataDir = stageRawData()
    val env = Cli.Env(spark, NotionFixtures.cfg, runDate = "2026-08-12", log = _ => ())
    Cli.normalize(env, dataDir)
    Cli.excelExport(env, dataDir, s"$dataDir/a.xlsx")
    Cli.excelExport(env, dataDir, s"$dataDir/b.xlsx")
    val a = xlsxEntries(s"$dataDir/a.xlsx")
    assert(a.size == 7)
    assert(a == xlsxEntries(s"$dataDir/b.xlsx"))
  }

  test("the CLI commands plan statically, in a clone that still reports to the caller's listeners") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dataDir = stageRawData()
    val session = spark.newSession()
    val client = new Refresh.FakeClient
    val env = Cli.Env(session, NotionFixtures.cfg, client, runDate = "2026-08-12",
      log = _ => ())
    val log = new QueryLog(session)
    Cli.normalize(env, dataDir)
    Cli.excelExport(env, dataDir, s"$dataDir/out.xlsx")
    Cli.pbiProvision(env, dataDir, "group-1", "TimeTracking")
    Cli.pbiRefresh(env, dataDir, "group-1", "TimeTracking")
    Cli.validateCoverage(env, dataDir)
    val executed = log.drain()
    assert(executed.nonEmpty, "the listener hears the commands' queries")
    assert(!executed.exists(_.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]),
      "no executed plan is adaptive")
    assert(session.conf.get("spark.sql.adaptive.enabled") == "true",
      "the caller's session keeps its conf")
    assert(xlsxEntries(s"$dataDir/out.xlsx").size == 7 && client.tableRows.size == 7)
  }

  test("excel:export derives the star once: one stage lookup, then only the checks start jobs") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution}
    val dataDir = stageRawData()
    Cli.normalize(Cli.Env(spark, NotionFixtures.cfg, runDate = "2026-08-12", log = _ => ()),
      dataDir)
    val session = spark.newSession()
    val log = new QueryLog(session)
    Cli.excelExport(Cli.Env(session, NotionFixtures.cfg, runDate = "2026-08-12", log = _ => ()),
      dataDir, s"$dataDir/out.xlsx")
    val executed = log.drain()
    def stageLookup(qe: QueryExecution) = qe.optimizedPlan.find {
      case a: Aggregate => a.groupingExpressions.exists {
        case r: AttributeReference => r.name == "workflow_stage_id"
        case _ => false
      }
      case _ => false
    }.isDefined
    def check(qe: QueryExecution) = qe.analyzed.find {
      case j: Join => j.joinType == LeftAnti
      case _ => false
    }.isDefined
    def startsJobs(qe: QueryExecution) = !qe.executedPlan.isInstanceOf[LocalTableScanExec]
    assert(executed.count(stageLookup) == 1, "workflowStages aggregated by workflow_stage_id once")
    val (derive, rest) = executed.splitAt(executed.indexWhere(check))
    assert(rest.count(check) == 3)
    assert(derive.count(startsJobs) <= 7 + 3, s"${derive.count(startsJobs)} derive actions")
    assert(rest.forall(qe => check(qe) || !startsJobs(qe)),
      "the sheet collects read the collected tables")
  }

  /** excel:export's integrity checks over crafted tables, where each
    * check can be broken on its own; returns the failure's message
    * after asserting that no workbook was written. */
  private def exportFailure(factKey: String = "s1", workflowKey: String = "w1",
                            stageKey: String = "s1"): String = {
    import spark.implicits._
    val fact = Seq((factKey, Option.empty[String])).toDF("from_stage_key", "to_stage_key")
    val dimWorkflow = Seq(workflowKey).toDF("workflow_definition_key")
    val dimStage = Seq(stageKey).toDF("stage_key")
    val checks = Derive.integrityChecks(fact, dimStage, dimWorkflow,
      stages = Seq("s1").toDF("source_page_id"), defs = Seq("w1").toDF("source_page_id"))
    val path = java.nio.file.Files.createTempDirectory("graft-integrity").toString + "/out.xlsx"
    val e = intercept[IllegalStateException](sinks.ExcelSink.write(Map(
      "FactTimeslices" -> fact, "DimWorkflow" -> dimWorkflow, "DimStage" -> dimStage),
      path, checks))
    assert(!new java.io.File(path).exists(), "no workbook on a failed check")
    e.getMessage
  }

  test("excel:export integrity: fact stage keys missing from workflowStages fail, no file") {
    assert(exportFailure(factKey = "s9") ==
      "FactTimeslices references stage keys not present in workflowStages: s9")
  }

  test("excel:export integrity: DimWorkflow keys missing from workflowDefinitions fail, no file") {
    assert(exportFailure(workflowKey = "w9") ==
      "DimWorkflow contains keys not present in workflowDefinitions: w9")
  }

  test("excel:export integrity: DimStage keys missing from workflowStages fail, no file") {
    assert(exportFailure(stageKey = "s8") ==
      "DimStage contains keys not present in workflowStages: s8")
  }

  test("excel:export integrity: with several violations the fact check's message wins") {
    assert(exportFailure(factKey = "s9", stageKey = "s8") ==
      "FactTimeslices references stage keys not present in workflowStages: s9")
    assert(exportFailure(factKey = "s9", workflowKey = "w9", stageKey = "s8") ==
      "FactTimeslices references stage keys not present in workflowStages: s9")
    assert(exportFailure(workflowKey = "w9", stageKey = "s8") ==
      "DimWorkflow contains keys not present in workflowDefinitions: w9")
  }

  test("excel:export refuses a table past the sheet row limit, naming it, and writes no file") {
    val path = java.nio.file.Files.createTempDirectory("graft-xlsx-limit").toString + "/out.xlsx"
    assert(sinks.ExcelSink.MaxRows == 1048575, "1,048,576 sheet rows less the header")
    val e = intercept[IllegalStateException](sinks.ExcelSink.write(Map(
      "Small" -> spark.range(3).toDF("n"),
      "Big" -> spark.range(1048576).toDF("n")), path))
    assert(e.getMessage.contains("Big") && e.getMessage.contains("1048575"), e.getMessage)
    assert(!new java.io.File(path).exists())
  }

  test("normalize fails fast when a dataset has no raw partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cli2").toString
    val env = Cli.Env(spark, NotionFixtures.cfg, log = _ => ())
    val e = intercept[IllegalStateException](Cli.normalize(env, dir))
    assert(e.getMessage.contains("No raw data found"))
  }

  test("pbi:refresh without provision fails with a clear message") {
    val dataDir = stageRawData()
    val env = Cli.Env(spark, NotionFixtures.cfg, log = _ => ())
    Cli.normalize(env, dataDir)
    val e = intercept[IllegalStateException](
      Cli.pbiRefresh(env, dataDir, "group-1", "TimeTracking"))
    assert(e.getMessage.contains("pbi:provision"))
  }

  test("audit:notion-schema prints name|id|type, writes audit json + generated constants") {
    val dir = java.nio.file.Files.createTempDirectory("graft-audit").toString
    val db = notion.Ingest.DatabaseLike("db-1", None, None, None, Seq(
      notion.Ingest.PropertyValue("Started", Some("w%5Czt"), Some("date"), "{}"),
      notion.Ingest.PropertyValue("Title \"quoted\"", Some("title"), Some("title"), "{}")))
    val adapter = new notion.Ingest.FakeNotionAdapter(db, Seq.empty)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val env = Cli.Env(spark, NotionFixtures.cfg, log = lines += _)
    val out = Cli.auditNotionSchema(env, adapter, dir, Map("timeslices" -> "db-1"))
    assert(lines.exists(_.contains("Started")), "schema rows printed")
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out.jsonPath)), "UTF-8")
    assert(json.contains("\"id\": \"w%5Czt\"") && json.contains("\"type\": \"date\""))
    // the generated Scala constants round-trip (cli/index.ts:199-204 parity)
    val gen = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out.generatedPath)), "UTF-8")
    assert(gen.contains("object NotionSchemaGenerated"))
    val parsed = Cli.parseGeneratedSchema(gen)
    assert(parsed == out.schema, "generated constants parse back to the audited schema")
    // and the audited ids are usable as NotionConfig bindings
    val byName = parsed("timeslices").map(p => p._1 -> p._2).toMap
    val cfg2 = NotionFixtures.cfg.copy(timeslices =
      NotionFixtures.cfg.timeslices.copy(startedAtDate = byName("Started")))
    assert(cfg2.timeslices.startedAtDate == "w%5Czt")
    cfg2.validateOrThrow()
  }

  // ---- recorded Notion API payloads (the offline pull seam) ----------

  /** Notion-API-shaped responses whose pull output mirrors the
    * NotionFixtures raw envelopes: display-named properties re-key to
    * the configured ids via the database schema (S3). */
  private def stageRecordedData(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-recorded").toString
    val rec = java.nio.file.Paths.get(dir, "recorded")
    java.nio.file.Files.createDirectories(rec)
    def schemaProp(name: String, id: String, tpe: String) =
      s""""$name":{"id":"$id","type":"$tpe","$tpe":{}}"""
    def rollupRel(name: String, target: String) =
      s""""$name":{"id":"x","type":"rollup","rollup":{"type":"array","array":[{"type":"relation","relation":[{"id":"$target"}]}],"function":"show_original"}}"""
    def dateProp(name: String, start: String) =
      s""""$name":{"id":"x","type":"date","date":{"start":"$start","end":null,"time_zone":null}}"""
    def database(id: String, props: Seq[String]) =
      s"""{"object":"database","id":"$id","last_edited_time":"2026-02-01T00:00:00.000Z","url":"https://notion.so/$id","title":[{"plain_text":"$id"}],"properties":{${props.mkString(",")}}}"""
    def queryPage(results: Seq[String], nextCursor: Option[String]) =
      s"""{"object":"list","results":[${results.mkString(",")}],"next_cursor":${nextCursor.map("\"" + _ + "\"").getOrElse("null")},"has_more":${nextCursor.isDefined}}"""
    def page(id: String, props: Seq[String]) =
      s"""{"object":"page","id":"$id","created_time":"2026-02-01T12:00:00.000Z","last_edited_time":"2026-02-01T12:10:00.000Z","url":"https://notion.so/page-$id","properties":{${props.mkString(",")}}}"""

    // timeslices: split across TWO query responses to exercise the
    // recorded cursor chain
    val tsDb = database("db-ts", Seq(
      schemaProp("Workflow", "rel_workflow", "rollup"),
      schemaProp("From Step", "rel_from_step", "rollup"),
      schemaProp("Start", "start_date", "date"),
      schemaProp("End", "end_date", "date")))
    val tsPage = page("12345678-1234-1234-1234-1234567890ab", Seq(
      rollupRel("Workflow", "aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"),
      rollupRel("From Step", "22222222-2222-2222-2222-222222222222"),
      dateProp("Start", "2026-02-01T12:00:00.000Z"),
      dateProp("End", "2026-02-01T12:05:00.000Z")))
    java.nio.file.Files.write(rec.resolve("db-ts.jsonl"), Seq(
      tsDb, queryPage(Seq(tsPage), Some("cur-2")), queryPage(Seq.empty, None))
      .mkString("\n").getBytes("UTF-8"))

    val stDb = database("db-st", Seq(
      schemaProp("Workflow Rel", "wf_rel", "relation"),
      schemaProp("Stage N", "stage_number", "number"),
      schemaProp("Stage", "stage_label", "rich_text")))
    val stPage = page("22222222-2222-2222-2222-222222222222", Seq(
      s""""Workflow Rel":{"id":"x","type":"relation","relation":[{"id":"aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"}]}""",
      s""""Stage N":{"id":"x","type":"number","number":3}""",
      s""""Stage":{"id":"x","type":"rich_text","rich_text":[{"plain_text":"Approved"}]}"""))
    java.nio.file.Files.write(rec.resolve("db-st.jsonl"),
      Seq(stDb, queryPage(Seq(stPage), None)).mkString("\n").getBytes("UTF-8"))

    val wfDb = database("db-wf", Seq(schemaProp("Name", "title_prop", "title")))
    val wfPage = page("aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa", Seq(
      s""""Name":{"id":"x","type":"title","title":[{"plain_text":"My Workflow"}]}"""))
    java.nio.file.Files.write(rec.resolve("db-wf.jsonl"),
      Seq(wfDb, queryPage(Seq(wfPage), None)).mkString("\n").getBytes("UTF-8"))
    dir
  }

  private val recordedIds = Map("timeslices" -> "db-ts",
    "workflowStages" -> "db-st", "workflowDefinitions" -> "db-wf")

  test("dispatch drives all 8 commands offline (cli/index.ts:413-435 parity)") {
    val dataDir = stageRecordedData()
    val client = new Refresh.FakeClient
    val env = Cli.Env(spark, NotionFixtures.cfg, client,
      runDate = "2026-08-12", log = _ => (),
      databaseIds = Some(recordedIds))

    assert(Cli.dispatch(env, List("pull:notion", dataDir)) == 0)
    // pull stamps partitions with the real UTC date (cli/index.ts:43) —
    // compute the expectation the same way or the test only passes on
    // the day it was written
    assert(new java.io.File(
      s"$dataDir/raw/timeslices/${functions.Scalars.utcDateStamp()}").exists())
    assert(Cli.dispatch(env, List("audit:notion-schema", dataDir)) == 0)
    assert(new java.io.File(s"$dataDir/audit/NotionSchemaGenerated.scala").exists())
    assert(Cli.dispatch(env, List("normalize", dataDir)) == 0)
    assert(Cli.dispatch(env, List("run", dataDir)) == 0)
    val xlsx = s"$dataDir/out.xlsx"
    assert(Cli.dispatch(env, List("excel:export", dataDir, xlsx)) == 0)
    assert(new java.io.File(xlsx).length() > 0)
    assert(Cli.dispatch(env, List("pbi:provision", dataDir, "g1", "TT")) == 0)
    assert(Cli.dispatch(env, List("pbi:refresh", dataDir, "g1", "TT")) == 0)
    assert(Cli.dispatch(env, List("run:end-to-end", dataDir, "g1", "TT")) == 0)
    // the recorded timeslice resolves its workflow + stage end to end
    assert(client.tableRows.keys.exists(_.endsWith("/FactTimeslices")))
    assert(Cli.dispatch(env, List("bogus")) == 2)
  }

  test("run:end-to-end on recorded payloads posts derived rows to the fake client") {
    val dataDir = stageRecordedData()
    val client = new Refresh.FakeClient
    val env = Cli.Env(spark, NotionFixtures.cfg, client,
      runDate = "2026-08-12", log = _ => (),
      adapter = Some(new notion.NotionApi.RecordedNotionAdapter(s"$dataDir/recorded")),
      databaseIds = Some(recordedIds))
    val totals = Cli.runEndToEnd(env,
      new notion.NotionApi.RecordedNotionAdapter(s"$dataDir/recorded"),
      dataDir, recordedIds, "group-1", "TimeTracking")
    assert(totals.tablesProcessed == 7)
    val factKey = client.tableRows.keys.find(_.endsWith("/FactTimeslices")).get
    assert(client.tableRows(factKey).size == 1)
  }

  test("NotionHttpAdapter speaks the public API: headers, cursor chain, error surface") {
    val calls = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Map[String, String], Option[String])]
    val db = """{"object":"database","id":"db-1","properties":{"T":{"id":"title_prop","type":"title","title":{}}}}"""
    val p1 = """{"object":"list","results":[{"object":"page","id":"p-1","last_edited_time":"2026-01-01T00:00:00.000Z","properties":{}}],"next_cursor":"abc","has_more":true}"""
    val p2 = """{"object":"list","results":[{"object":"page","id":"p-2","last_edited_time":"2026-01-02T00:00:00.000Z","properties":{}}],"next_cursor":null,"has_more":false}"""
    val responses = scala.collection.mutable.Queue(db, p1, p2)
    val send: notion.NotionApi.Send = (url, method, headers, body) => {
      calls += ((url, method, headers, body))
      (200, Map.empty, responses.dequeue())
    }
    val adapter = new notion.NotionApi.NotionHttpAdapter("tok-1", send)
    val got = adapter.retrieveDatabase("db-1")
    assert(got.id == "db-1" && got.properties.map(_.id) == Seq(Some("title_prop")))
    val pages = notion.Ingest.queryAllPages(adapter, "db-1")
    assert(pages.map(_.id) == Seq("p-1", "p-2"))
    // request shape
    assert(calls(0)._1 == "https://api.notion.com/v1/databases/db-1" && calls(0)._2 == "GET")
    assert(calls(1)._1 == "https://api.notion.com/v1/databases/db-1/query" && calls(1)._2 == "POST")
    assert(calls(1)._4.contains("""{"page_size":100}"""))
    assert(calls(2)._4.contains("""{"page_size":100,"start_cursor":"abc"}"""))
    calls.foreach { c =>
      assert(c._3("Authorization") == "Bearer tok-1")
      assert(c._3("Notion-Version") == "2022-06-28")
    }
    // non-2xx surfaces as the retryable HttpError the I1 policy understands
    val failing = new notion.NotionApi.NotionHttpAdapter("tok-1",
      (_, _, _, _) => (429, Map("retry-after" -> "1"), "{}"))
    val e = intercept[graft.util.Retry.HttpError](failing.retrieveDatabase("db-1"))
    assert(e.status == 429 && e.headers("retry-after") == "1")
  }

  test("leveled logger renders [level] message with optional meta (log.ts parity)") {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val log = new graft.util.Log(out += _)
    log.info("pulling timeslices")
    log.info("wrote raw records", Some("{count: 2}"))
    log.warn("rate limited")
    log.error("command failed", Some("boom"))
    assert(out.toSeq == Seq(
      "[info] pulling timeslices",
      "[info] wrote raw records {count: 2}",
      "[warn] rate limited",
      "[error] command failed boom"))
    // Env.logger writes through the same injectable seam
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val env = Cli.Env(spark, DefaultConfig.config, log = seen += _)
    env.logger.error("command failed", Some("x"))
    assert(seen.toSeq == Seq("[error] command failed x"))
  }

  test("validate:coverage reports instance-page-name coverage with failure samples") {
    val dataDir = stageRawData()
    // add a second resolvable timeslice whose instance-name rollup is
    // MISSING — the deliberately broken record the metric must surface
    val broken = NotionFixtures.timesliceJson
      .replace("12345678-1234-1234-1234-1234567890ab", "77777777-7777-7777-7777-777777777777")
      .replace("\"rollup_instance_name\": {", "\"rollup_instance_name_zzz\": {")
    val p = java.nio.file.Paths.get(s"$dataDir/raw/timeslices/2026-08-12/records.jsonl")
    java.nio.file.Files.write(p,
      (new String(java.nio.file.Files.readAllBytes(p), "UTF-8") + "\n" + broken)
        .getBytes("UTF-8"))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val env = Cli.Env(spark, NotionFixtures.cfg, runDate = "2026-08-12",
      log = lines += _)
    Cli.normalize(env, dataDir)
    val r = Cli.validateCoverage(env, dataDir)
    assert(r.total == 2 && r.nonNull == 1)
    assert(math.abs(r.pct - 50.0) < 1e-9)
    assert(r.failureSamples == Seq("timeslice_77777777777777777777777777777777"),
      s"broken record not surfaced: ${r.failureSamples}")
    assert(r.sampleValues.map(_._2) == Seq("Instance A"))
    assert(lines.exists(_.contains("non_null_pct=50.00%")))
    // dispatch hook + script's exit-1-when-no-canon behavior
    assert(Cli.dispatch(env, List("validate:coverage", dataDir)) == 0)
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-cov").toString
    intercept[IllegalStateException](Cli.validateCoverage(env, emptyDir))
  }

  test("generated constants survive control characters in property names") {
    val schema = Map("timeslices" -> Seq(
      ("Name\nwith newline", "id\t1", "title"),
      ("plain", "p1", "date")))
    val gen = Cli.generatedScala(schema)
    // the whole entry must stay on ONE line, in escaped form
    assert(gen.linesIterator.exists(l =>
      l.contains("""Name\nwith newline""") && l.contains("""-> ("id\t1", "title")""")),
      s"control chars not escaped into a single-line literal:\n$gen")
    assert(Cli.parseGeneratedSchema(gen) == schema, "control-char round-trip broken")
  }

  test("run-date helpers render LA vs UTC calendar dates") {
    val clock = new graft.util.LogicalClock(start = 1704088800000L) // 2024-01-01T06:00Z
    assert(functions.Scalars.utcDateStamp(clock) == "2024-01-01")
    assert(functions.Scalars.laRunDate(clock) == "2023-12-31") // LA still on Dec 31
  }

  test("run = pull + normalize lands raw partitions then canon outputs") {
    val dataDir = java.nio.file.Files.createTempDirectory("graft-run").toString
    val mkDb = (props: Seq[notion.Ingest.PropertyValue]) =>
      notion.Ingest.DatabaseLike("db-x", None, None, None, props)
    // minimal dataset trio: defs/stages empty, timeslices with one page
    val tsDb = mkDb(Seq(
      notion.Ingest.PropertyValue("Start", Some("start_date"), Some("date"), "{}"),
      notion.Ingest.PropertyValue("End", Some("end_date"), Some("date"), "{}")))
    val page = notion.Ingest.PageLike("12345678-1234-1234-1234-1234567890ab",
      "2026-02-01T12:10:00.000Z", None, None, Seq(
        notion.Ingest.PropertyValue("Start", None, None,
          """{"type":"date","date":{"start":"2026-02-01T12:00:00.000Z"}}""")))
    val adapters = Map(
      "timeslices" -> new notion.Ingest.FakeNotionAdapter(tsDb, Seq(page)),
      "workflowStages" -> new notion.Ingest.FakeNotionAdapter(mkDb(Seq.empty), Seq.empty),
      "workflowDefinitions" -> new notion.Ingest.FakeNotionAdapter(mkDb(Seq.empty), Seq.empty))
    val routing = new notion.Ingest.NotionAdapter {
      def pick(id: String) = adapters(id.split(":")(0))
      def retrieveDatabase(id: String) = pick(id).retrieveDatabase(id)
      def queryDatabasePage(id: String, c: Option[String], n: Int) =
        pick(id).queryDatabasePage(id, c, n)
    }
    val env = Cli.Env(spark, NotionFixtures.cfg, runDate = "2026-08-12", log = _ => ())
    val counts = Cli.run(env, routing, dataDir, Map(
      "timeslices" -> "timeslices:db", "workflowStages" -> "workflowStages:db",
      "workflowDefinitions" -> "workflowDefinitions:db"))
    // raw landed (db record + page), canon written; missing wf -> excluded
    // (real-clock UTC stamp, same as pull itself — no hard-coded date)
    assert(new java.io.File(
      s"$dataDir/raw/timeslices/${functions.Scalars.utcDateStamp()}").exists())
    assert(counts("timeslices") == 0, "timeslice without workflow definition excluded")
    assert(counts("qualityIssues") == 1)
  }
}
