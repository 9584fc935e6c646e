package graft

import graft.notion._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity fixtures (mirrors /root/reference/src/test/fixtures.ts
  * and the exact assertions of normalize.test.ts:27-100): distractor
  * properties must be ignored because extraction is driven solely by
  * configured property IDs; re-pointing an ID changes the output. */
object NotionFixtures {
  val cfg = NotionFixturesData.cfg
  val timesliceJson = NotionFixturesData.timesliceJson
  val stageJson = NotionFixturesData.stageJson
  val defJson = NotionFixturesData.defJson
  val dbJson = NotionFixturesData.dbJson
  def readRaw(spark: org.apache.spark.sql.SparkSession, lines: Seq[String]) =
    NotionFixturesData.readRaw(spark, lines)

  // -- a star fixture for the last-wins and entry-edge paths ---------

  private val stage1Page = "44444444-4444-4444-4444-444444444444"
  /** The fixture stage twice under one key, tied on last_edited_time,
    * plus a stage-1 stage. */
  val starStageJson: Seq[String] = Seq(stageJson,
    stageJson.replace("Approved", "Approved again"),
    stageJson.replace("22222222-2222-2222-2222-222222222222", stage1Page)
      .replace("""\"number\":3}""", """\"number\":1}""").replace("Approved", "Intake"))
  /** The fixture definition twice under one key, tied on last_edited_time. */
  val starDefJson: Seq[String] = Seq(defJson, defJson.replace("My Workflow", "My Workflow v2"))
  /** A slice leaving the fixture stage for the stage-1 stage over three
    * hours, a stage-1 entry edge (no from step), and one slice whose
    * steps resolve to no stage. */
  val starTimesliceJson: Seq[String] = Seq(
    timesliceJson.replace("bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb", "22222222-2222-2222-2222-222222222222")
      .replace("cccccccc-cccc-cccc-cccc-cccccccccccc", stage1Page)
      .replace("2026-02-01T12:05:00.000Z", "2026-02-01T14:30:00.000Z"),
    timesliceJson.replace("12345678-1234-1234-1234-1234567890ab", "77777777-7777-7777-7777-777777777777")
      .replace("\"rel_from_step\": {", "\"rel_from_step_gone\": {")
      .replace("cccccccc-cccc-cccc-cccc-cccccccccccc", stage1Page),
    timesliceJson.replace("12345678-1234-1234-1234-1234567890ab", "88888888-8888-8888-8888-888888888888"),
    dbJson)
}

class NotionSpec extends AnyFunSuite {
  import TestSpark._
  import NotionFixtures._

  lazy val rawTs: DataFrame = readRaw(spark, Seq(timesliceJson, dbJson))
  lazy val rawStage: DataFrame = readRaw(spark, Seq(stageJson))
  lazy val rawDef: DataFrame = readRaw(spark, Seq(defJson))
  lazy val ts: DataFrame = Normalize.timeslices(rawTs, cfg)
  lazy val stages: DataFrame = Normalize.workflowStages(rawStage, cfg)
  lazy val defs: DataFrame = Normalize.workflowDefinitions(rawDef, cfg)

  test("timeslice extraction matches reference assertions (normalize.test.ts:27-44)") {
    val rows = ts.collect()
    assert(rows.length == 1, "database record must be filtered out")
    val r = rows(0)
    def s(n: String): String = r.getAs[String](n)
    assert(s("timeslice_id") == "timeslice_123456781234123412341234567890ab")
    assert(s("workflow_definition_id") == "workflow_definition_" + "a" * 32)
    assert(s("workflow_record_id") == "workflow_record_" + "e" * 32)
    assert(s("from_step_id") == "workflow_stage_" + "b" * 32)
    assert(s("to_step_id") == "workflow_stage_" + "c" * 32)
    assert(s("started_at") == "2026-02-01T12:00:00.000Z")
    assert(s("ended_at") == "2026-02-01T12:05:00.000Z")
    assert(r.getAs[Long]("duration_seconds") == 300L)
    assert(s("workflow_instance_page_name") == "Instance A")
    assert(s("page_title") == "Example Slice")
    assert(s("from_task_name") == "Task One")
    assert(s("page_url") == "https://notion.so/page")
  }

  test("ragged page: missing configured properties and metadata keys yield nulls, not ANSI errors") {
    // a page whose properties map has ONLY the start date (no title, no
    // relations) and whose metadata lacks created_time/url — a live
    // Notion page after a schema change looks exactly like this; under
    // ANSI, element_at (vs try_element_at) on the absent keys would
    // throw MAP_KEY_DOES_NOT_EXIST and kill the whole normalize run
    val ragged =
      """{"source":"notion","entityType":"page",
         |"databaseId":"db-ts","pageId":"99999999-9999-9999-9999-999999999999",
         |"lastEditedTime":"2026-02-01T12:10:00.000Z",
         |"properties":{"start_date":{"propertyId":"start_date",
         |"propertyName":"start_date","propertyType":"date",
         |"rawValue":"{\"type\":\"date\",\"date\":{\"start\":\"2026-02-01T12:00:00.000Z\"}}"}},
         |"metadata":{"dataset":"timeslices"}}""".stripMargin.replace("\n", "")
    val out = Normalize.timeslices(readRaw(spark, Seq(ragged)), cfg)
    val row = out.collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getAs[String]("started_at") != null)
    assert(r.getAs[String]("ended_at") == null)
    assert(r.getAs[String]("workflow_definition_id") == null)
    assert(r.getAs[String]("page_url") == null)
  }

  test("distractor re-pointing changes output (normalize.test.ts:46-67)") {
    val repointed = cfg.copy(timeslices =
      cfg.timeslices.copy(workflowDefinitionRel = "misleading_relation"))
    val r = Normalize.timeslices(rawTs, repointed).collect()(0)
    assert(r.getAs[String]("workflow_definition_id") == "workflow_definition_" + "d" * 32)
    // untouched fields stay put
    assert(r.getAs[String]("started_at") == "2026-02-01T12:00:00.000Z")
  }

  test("blank configured ID fails fast (normalize.test.ts:69-83)") {
    val broken = cfg.copy(timeslices = cfg.timeslices.copy(startedAtDate = " "))
    val e = intercept[IllegalArgumentException] {
      Normalize.timeslices(rawTs, broken)
    }
    assert(e.getMessage.contains("startedAtDate"))
  }

  test("workflow stage extraction (normalize.test.ts:85-100)") {
    val r = stages.collect()(0)
    assert(r.getAs[String]("workflow_stage_id") == "workflow_stage_" + "2" * 32)
    assert(r.getAs[String]("workflow_definition_id") == "workflow_definition_" + "a" * 32)
    assert(r.getAs[Double]("stage_number") == 3.0)
    assert(r.getAs[String]("stage_label") == "Approved")
    assert(r.getAs[String]("sort_key") ==
      s"workflow_definition_${"a" * 32}|3|approved|22222222-2222-2222-2222-222222222222")
  }

  test("workflow definition title binding") {
    val r = defs.collect()(0)
    assert(r.getAs[String]("workflow_definition_id") == "workflow_definition_" + "a" * 32)
    assert(r.getAs[String]("page_title") == "My Workflow")
  }

  test("timestamp offset form +00:00 parses like Z (timeslice.ts:326-345)") {
    val js = timesliceJson.replace("2026-02-01T12:05:00.000Z", "2026-02-01T12:05:00.000+00:00")
    val r = Normalize.timeslices(readRaw(spark, Seq(js)), cfg).collect()(0)
    assert(r.getAs[Long]("duration_seconds") == 300L)
  }

  test("quality rules fire and exclusion drops missing-workflow rows") {
    import spark.implicits._
    val crafted = Seq(
      // missing workflow definition → error + excluded
      ("timeslice_x1", null, "workflow_stage_b", null, null, null),
      // from step without started_at → warn
      ("timeslice_x2", "workflow_definition_a", "workflow_stage_b", null, null, "2026-02-01T12:00:00.000Z"),
      // negative duration → warn
      ("timeslice_x3", "workflow_definition_a", null, "2026-02-01T12:10:00.000Z", "2026-02-01T12:00:00.000Z", null))
      .toDF("timeslice_id", "workflow_definition_id", "from_step_id", "started_at", "ended_at", "to_ignore")
      .withColumn("to_step_id", lit(null).cast("string"))
      .drop("to_ignore")
    val issues = Quality.timesliceIssues(crafted, "2026-02-01")
    val byRule = issues.groupBy("rule").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRule("MISSING_WORKFLOW_DEFINITION") == 1)
    assert(byRule("FROM_STEP_WITHOUT_STARTED_AT") == 2) // x1 AND x2 (rules don't short-circuit)
    assert(byRule("NEGATIVE_DURATION") == 1)
    assert(byRule("WORKFLOW_WITH_NO_STEPS") == 1) // x3 has wf but no steps
    assert(byRule("STEPS_WITHOUT_ANY_TIMESTAMP") == 2) // x1, x2
    assert(Quality.excludeTimeslices(crafted).count() == 2)
    // deterministic issue id = sha256("2026-02-01|timeslices|timeslice_x1|MISSING_WORKFLOW_DEFINITION")
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("2026-02-01|timeslices|timeslice_x1|MISSING_WORKFLOW_DEFINITION".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val got = issues.filter(col("rule") === "MISSING_WORKFLOW_DEFINITION")
      .select("issue_id").collect()(0).getString(0)
    assert(got == expected)
  }

  test("parsed decodes exactly what from_json(payloadSchema) decodes, malformed JSON to nulls") {
    import spark.implicits._
    val fixturePayloads = readRaw(spark, Seq(timesliceJson, stageJson, defJson, dbJson))
      .select(explode(map_values(col("properties"))).as("p"))
      .select(col("p.rawValue")).as[String].collect().toSeq
    val malformed = Seq("{\"type\":", "not json", "", "{\"type\":\"date\",}")
    val ragged = Seq("[1,2]", "42", "null", "{}", """{"type":"date","date":"x"}""",
      """{"type":"relation","relation":{"id":"a"}}""", """{"number":3.5,"type":"number"}""",
      """{"type":"rollup","rollup":{"type":"array","array":[7,{"type":"date"}]}}""")
    val inputs = fixturePayloads ++ malformed ++ ragged :+ null
    val df = inputs.toDF("raw").repartition(1)
    val direct = df.select(col("raw"), NotionExtract.parsed(col("raw")).as("p"))
    val viaRegistry = df.select(col("raw"),
      from_json(col("raw"), NotionSchemas.payloadSchema).as("p"))
    assert(direct.schema == viaRegistry.schema)
    val got = direct.collect().map(r => r.getString(0) -> r.get(1)).toMap
    val want = viaRegistry.collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(got.size == inputs.distinct.size && got == want)
    // PERMISSIVE decoding: a malformed payload is null or a struct of
    // nulls, so every extractor over it yields null
    malformed.foreach { m =>
      val r = got(m).asInstanceOf[org.apache.spark.sql.Row]
      assert(r == null || (0 until r.length).forall(r.isNullAt), s"'$m' decoded to $r")
    }
    assert(got(null) == null)
    assert(fixturePayloads.forall(got(_) != null))
  }

  test("normalize and derive plans call neither the registry's from_json nor lower") {
    // a child session whose function registry lacks both names: a plan
    // that resolves either by name fails to analyze here, which is the
    // per-plan schema re-parse and the collation-class lowercase
    val s = spark.newSession()
    Seq("from_json", "lower").foreach(f =>
      assert(s.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f))))
    Seq(from_json(col("pageId"), NotionSchemas.payloadSchema), lower(col("pageId")))
      .foreach(c => intercept[org.apache.spark.sql.AnalysisException](
        readRaw(s, Seq(defJson)).select(c)))
    val d = Normalize.workflowDefinitions(readRaw(s, Seq(defJson)), cfg)
    val st = Normalize.workflowStages(readRaw(s, Seq(stageJson)), cfg)
    val t = Normalize.timeslices(readRaw(s, Seq(timesliceJson, dbJson)), cfg)
    val log = new QueryLog(s)
    val star = Derive.deriveAll(d, st, t)
    val executed = log.drain()
    // deriveAll's tables are collected LocalRelations with empty plans,
    // so the guard reads the per-table builders' plans and every plan
    // the derivation executed (its ten wave actions)
    assert(executed.size == 10, executed.map(_.analyzed.nodeName))
    val fact = Derive.factTimeslices(t, d, st)
    val dStage = Derive.dimStage(st, d)
    val frames = Derive.dimPlaybackFrame(t)
    val occupancy = Derive.stageOccupancyHourly(t, st, dStage, frames)
    val builders = Seq(fact, dStage, Derive.dimWorkflow(d), Derive.dimDate(fact), frames,
      occupancy, Derive.stageThroughputDaily(t, st, dStage, occupancy))
    val plans = (Seq(d, st, t) ++ builders).map(_.queryExecution.analyzed) ++
      executed.map(_.analyzed)
    plans.foreach { plan =>
      val lowers = plan.collectWithSubqueries { case p =>
        p.expressions.flatMap(_.collect {
          case l: org.apache.spark.sql.catalyst.expressions.Lower => l })
      }.flatten
      assert(lowers.isEmpty, plan.treeString)
    }
    assert(star("FactTimeslices").count() == 1)
  }

  test("derive produces the 7-table star schema with parity semantics") {
    val tables = Derive.deriveAll(defs, stages, ts)
    assert(tables.keySet == Derive.ExpectedTables.toSet)

    val fact = tables("FactTimeslices").collect()
    assert(fact.length == 1)
    val f = fact(0)
    assert(f.getAs[String]("Name") == "Example Slice")
    assert(f.getAs[String]("Workflow Definition") == "My Workflow")
    // from_step resolves to the stage page id (J2)
    assert(f.getAs[String]("from_stage_key") == null) // from_step bbbb… not among stages
    assert(f.getAs[String]("to_stage_key") == null)
    assert(f.getAs[Long]("Minutes Diff") == 5L)
    // OLE serial for 2026-02-01T12:00:00Z
    val expectedSerial = (java.time.Instant.parse("2026-02-01T12:00:00Z").toEpochMilli
      - (-2209161600000L)) / 86400000.0
    assert(math.abs(f.getAs[Double]("From Time") - expectedSerial) < 1e-9)
    assert(f.getAs[String]("To DateTime") == "2026-02-01T12:05:00.000Z")
    assert(f.getAs[String]("To Date") == "2026-02-01T00:00:00.000Z") // LA day of 12:05 UTC = Feb 1

    val dimStage = tables("DimStage").collect()
    assert(dimStage.length == 1)
    val st = dimStage(0)
    assert(st.getAs[String]("Stage Label") == "03. Approved")
    assert(st.getAs[Long]("stage_n") == 3L)
    // color parity: sha256(stage page id) first-8-hex % 36 into the palette
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest("22222222-2222-2222-2222-222222222222".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val idx = (java.lang.Long.parseLong(digest.take(8), 16) % 36).toInt
    assert(st.getAs[String]("color_hex") == Derive.ColorHexValues(idx))

    val dimWf = tables("DimWorkflow").collect()
    assert(dimWf.length == 1 &&
      dimWf(0).getAs[String]("workflow_definition") == "My Workflow")

    val dimDate = tables("DimDate").collect()
    assert(dimDate.length == 1 && dimDate(0).getAs[Int]("date_key") == 20260201)
    assert(dimDate(0).getAs[String]("month_name") == "Feb")
    assert(dimDate(0).getAs[String]("Date") == "2026-02-01T00:00:00.000Z")

    val frames = tables("DimPlaybackFrame").collect()
    // candidates span 12:00..12:10 → hours 12:00 only
    assert(frames.length == 1)
    assert(frames(0).getAs[Long]("frame_n") == 0L)
    assert(frames(0).getAs[String]("frame_datetime") == "2026-02-01T12:00:00.000Z")

    Derive.assertIntegrity(tables("FactTimeslices"), tables("DimStage"),
      tables("DimWorkflow"), stages, defs)
  }

  test("deriveAll's materialized star equals the per-table builders row for row") {
    val d = Normalize.workflowDefinitions(readRaw(spark, starDefJson), cfg)
    val st = Normalize.workflowStages(readRaw(spark, starStageJson), cfg)
    val t = Normalize.timeslices(readRaw(spark, starTimesliceJson), cfg)
    val fact = Derive.factTimeslices(t, d, st)
    val dStage = Derive.dimStage(st, d)
    val frames = Derive.dimPlaybackFrame(t)
    val occupancy = Derive.stageOccupancyHourly(t, st, dStage, frames)
    val builders = Map(
      "FactTimeslices" -> fact,
      "DimWorkflow" -> Derive.dimWorkflow(d),
      "DimStage" -> dStage,
      "DimDate" -> Derive.dimDate(fact),
      "DimPlaybackFrame" -> frames,
      "StageOccupancy_Hourly" -> occupancy,
      "StageThroughput_Daily" -> Derive.stageThroughputDaily(t, st, dStage, occupancy))
    val star = Derive.deriveAll(d, st, t)
    assert(star.keySet == builders.keySet)
    val got = Derive.ExpectedTables.map { name =>
      val (derived, built) = (star(name), builders(name))
      assert(derived.schema == built.schema, name)
      val rows = derived.collect().toSeq
      assert(rows == built.collect().toSeq, name)
      name -> rows
    }.toMap
    // the fixture reaches the paths it is there for: the duplicate keys
    // collapse, and the stage-1 entry edge is counted
    assert(got("FactTimeslices").length == 3)
    assert(got("DimStage").length == 2 && got("DimWorkflow").length == 1)
    assert(got("StageOccupancy_Hourly").length == 3)
    assert(Derive.counters(t, st).entryEdgeCounted == 1)
    // under a 2-row bound the fact (3 rows) stays its lazy plan and
    // DimStage (2 rows) is collected; both read the same rows
    val bounded = Derive.deriveAll(d, st, t, maxRows = Some(2))
    assert(bounded("FactTimeslices").collect().toSeq == got("FactTimeslices"))
    assert(bounded("DimStage").collect().toSeq == got("DimStage"))
  }

  test("a last_edited_time tie between two definition rows resolves to ONE title in DimWorkflow and the fact") {
    // 32 workflows, each defined twice under one key and canonical id
    // with the same last_edited_time but different titles, and each
    // referenced by one timeslice
    val ids = (1 to 32).map(i => f"$i%08x-aaaa-aaaa-aaaa-aaaaaaaaaaaa")
    val wf = "aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"
    val d = Normalize.workflowDefinitions(readRaw(spark, ids.zipWithIndex
      .flatMap { case (id, i) => Seq("A", "B").map(t =>
        defJson.replace(wf, id).replace("My Workflow", s"Title $i $t")) }), cfg)
    val t = Normalize.timeslices(readRaw(spark, ids.zipWithIndex.map {
      case (id, i) => timesliceJson.replace(wf, id)
        .replace("12345678-1234-1234-1234-1234567890ab",
          f"$i%08x-1234-1234-1234-1234567890ab")
    }), cfg)
    val st = Normalize.workflowStages(readRaw(spark, Seq(stageJson)), cfg)
    val star = Derive.deriveAll(d, st, t)
    val dim = star("DimWorkflow").select("workflow_definition")
      .collect().map(_.getString(0)).toSet
    val fact = star("FactTimeslices").select("Workflow Definition")
      .collect().map(_.getString(0)).toSet
    assert(dim.size == 32 && fact.size == 32)
    assert(dim == fact, s"DimWorkflow names ${(dim -- fact).toSeq.sorted} " +
      s"where the fact names ${(fact -- dim).toSeq.sorted}")
  }

  test("occupancy + throughput derive from resolvable stage intervals") {
    import spark.implicits._
    // stage with known number + a timeslice entering it
    val stage2Json = stageJson
      .replace("22222222-2222-2222-2222-222222222222", "33333333-3333-3333-3333-333333333333")
    val stages2 = Normalize.workflowStages(readRaw(spark, Seq(stageJson, stage2Json)), cfg)
    val tsJson2 = timesliceJson.replace(
      "bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb", "22222222-2222-2222-2222-222222222222")
    val ts2 = Normalize.timeslices(readRaw(spark, Seq(tsJson2)), cfg)
    val tables = Derive.deriveAll(defs, stages2, ts2)

    val occ = tables("StageOccupancy_Hourly").collect()
    assert(occ.length == 1) // interval [12:00,12:05] contains hour 12:00 only
    assert(occ(0).getAs[Long]("item_count") == 1L)
    assert(occ(0).getAs[String]("stage") == "Approved")
    assert(occ(0).getAs[String]("snapshot_label") == "2026-02-01 04:00") // LA = UTC-8 in Feb

    val thr = tables("StageThroughput_Daily").collect()
    assert(thr.length == 1)
    val t = thr(0)
    assert(t.getAs[Long]("entry_count") == 1L)
    assert(t.getAs[Long]("exit_count") == 1L)
    assert(t.getAs[Long]("occupancy_peak") == 1L)
    assert(t.getAs[Double]("occupancy_avg") == 1.0)
    assert(t.getAs[Int]("bucket_n") == 20260201)
  }

  test("derive skip counters report invalid intervals and entry edges") {
    // stage resolvable; timeslice A enters it with a valid interval;
    // timeslice B enters it with ended < started (skipped+counted);
    // timeslice C is a stage-1 entry edge candidate but our stage is #3
    // (non-stage-1 observed)
    val tsA = timesliceJson.replace(
      "bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb", "22222222-2222-2222-2222-222222222222")
    val tsB = tsA
      .replace("12345678-1234-1234-1234-1234567890ab", "88888888-8888-8888-8888-888888888888")
      .replace("2026-02-01T12:05:00.000Z", "2026-02-01T11:00:00.000Z") // ended < started
    val tsC = timesliceJson
      .replace("12345678-1234-1234-1234-1234567890ab", "77777777-7777-7777-7777-777777777777")
      .replace("\"rel_from_step\": {", "\"rel_from_step_gone\": {") // no from_step
      .replace("cccccccc-cccc-cccc-cccc-cccccccccccc", "22222222-2222-2222-2222-222222222222")
    val ts3 = Normalize.timeslices(readRaw(spark, Seq(tsA, tsB, tsC)), cfg)
    val stages3 = Normalize.workflowStages(readRaw(spark, Seq(stageJson)), cfg)
    val c = Derive.counters(ts3, stages3)
    assert(c.occupancySkippedMissingOrInvalidInterval == 1) // tsB negative interval
    assert(c.nonStage1EntryEdgeObserved == 1) // tsC enters stage #3, not #1
    assert(c.entryEdgeCounted == 0 && c.entryEdgeSkippedMissingTimestamp == 0)
  }
}
