package graft.notion

import graft.sinks.{ExcelSink, JsonlSink}
import graft.sinks.pbi.{PbiSpec, Refresh, Registry}
import graft.util.Par
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** M6 — command dispatcher with the reference CLI's full 8-command
  * surface (src/cli/index.ts:410-435):
  *
  *   pull:notion <dataDir>                   adapter → raw JSONL partitions
  *   audit:notion-schema <dataDir>           schema audit json + generated constants
  *   normalize <dataDir>                     raw → canon + quality issues
  *   run <dataDir>                           pull:notion then normalize
  *   run:end-to-end <dataDir> <group> <name> pull + normalize + provision + refresh
  *   excel:export <dataDir> <xlsx>           canon → 7-table workbook
  *   pbi:provision <dataDir> <group> <name>  ensure dataset via client
  *   pbi:refresh <dataDir> <group> <name>    derive → wipe+reload via client
  *   validate:coverage <dataDir>             instance-page-name coverage %
  *
  * Commands that need live HTTP (Notion pull, Power BI) run against
  * injectable adapters: with NOTION_TOKEN set, pulls go through the
  * throttled live adapter; otherwise they replay recorded payloads from
  * `<dataDir>/recorded/` — the same offline seam the reference's tests
  * use.
  */
object Cli {

  case class Env(spark: SparkSession, cfg: NotionSchemas.NotionConfig,
                 client: Refresh.PbiClient = new Refresh.FakeClient,
                 // reference run date is the America/Los_Angeles calendar
                 // date (quality/timeslices.ts:174), not the JVM-tz date
                 runDate: String = graft.functions.Scalars.laRunDate(),
                 log: String => Unit = println,
                 /** Notion adapter override; None → live if NOTION_TOKEN
                   * is set, else recorded payloads under the data dir. */
                 adapter: Option[Ingest.NotionAdapter] = None,
                 /** dataset → Notion database id; None → NOTION_DB_*
                   * env vars, else dataset names (recorded mode). */
                 databaseIds: Option[Map[String, String]] = None) {
    /** Leveled view of the log seam (lib/log.ts analog). */
    def logger: graft.util.Log = new graft.util.Log(log)
  }

  private val Datasets = Seq("workflowDefinitions", "workflowStages", "timeslices")

  /** `normalize` (cli/index.ts:73-131): read latest raw partitions,
    * build canon datasets, evaluate quality, exclude, write 4 outputs. */
  def normalize(env: Env, dataDir: String): Map[String, Long] = {
    env.cfg.validateOrThrow()
    val dates = Datasets.map { ds =>
      ds -> JsonlSink.latestDate(env.spark, dataDir, "raw", ds).getOrElse(
        throw new IllegalStateException(s"No raw data found for dataset: $ds"))
    }.toMap
    def raw(ds: String) = JsonlSink.read(env.spark, NotionSchemas.rawRecordSchema,
      dataDir, "raw", ds, dates(ds))
    // cached: each dataset feeds the JSONL write and the quality report
    // — uncached, the raw read + from_json normalization would run once
    // per consumer
    val defs = Normalize.workflowDefinitions(raw("workflowDefinitions"), env.cfg).cache()
    val stages = Normalize.workflowStages(raw("workflowStages"), env.cfg).cache()
    val ts = Normalize.timeslices(raw("timeslices"), env.cfg).cache()
    val issues = Quality.allIssues(ts, stages, env.runDate).cache()
    try {
      // materialize the caches with full parallelism first: the first
      // single-file write would otherwise build a cache inside its one
      // coalesced task
      val Seq(nDefs, nStages, _, nIssues) = Par.map(Seq(defs, stages, ts, issues))(_.count())
      val outputs = Seq("workflowDefinitions" -> defs, "workflowStages" -> stages,
        "timeslices" -> Quality.excludeTimeslices(ts), "qualityIssues" -> issues)
      // the four writes and the report are independent reads of the caches
      val writes: Seq[() => Option[Quality.RunQualityReport]] = outputs.map { case (ds, df) =>
        () => { JsonlSink.write(df, dataDir, "canon", ds, env.runDate, singleFile = true); None }
      }
      val report = Par.map(writes :+ (() => Some(Quality.report(ts, issues, env.runDate))))(_())
        .last.get
      val excluded = report.timeslices_excluded_missing_workflow_definition
      env.log(s"[normalize] total=${report.timeslices_total} " +
        s"excluded=$excluded issues=${report.issues_total}")
      // the clean timeslices are exactly those with a workflow definition
      Map("workflowDefinitions" -> nDefs, "workflowStages" -> nStages,
        "timeslices" -> (report.timeslices_total - excluded), "qualityIssues" -> nIssues)
    } finally {
      defs.unpersist(); stages.unpersist(); ts.unpersist(); issues.unpersist()
    }
  }

  private def canonDataset(env: Env, dataDir: String, ds: String,
                           schema: StructType) = {
    val date = JsonlSink.latestDate(env.spark, dataDir, "canon", ds).getOrElse(
      throw new IllegalStateException(s"No canon data found for dataset: $ds"))
    env.spark.read.schema(schema).json(JsonlSink.datasetDir(dataDir, "canon", ds, date))
  }

  // canon schemas are the builders' output schemas; derive them from empty raw
  private def emptyRaw(env: Env) = env.spark.createDataFrame(
    env.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    NotionSchemas.rawRecordSchema)

  /** Runs `f` over the canon tables, cached for its duration: the
    * derived star reads them several times, and uncached every read is
    * a JSON scan of its own. The read is narrow: each table is read and
    * cached without its `attributes` map (every raw property value),
    * which no derived table outputs. The caches are dropped before
    * returning, so none outlives the command. */
  private def withCanonTables[T](env: Env, dataDir: String)(
      f: (DataFrame, DataFrame, DataFrame) => T): T = {
    val empty = emptyRaw(env)
    def read(ds: String, builder: DataFrame => DataFrame) =
      canonDataset(env, dataDir, ds, StructType(
        builder(empty).schema.filterNot(_.name == "attributes"))).cache()
    val defs = read("workflowDefinitions", Normalize.workflowDefinitions(_, env.cfg))
    val stages = read("workflowStages", Normalize.workflowStages(_, env.cfg))
    val ts = read("timeslices", Normalize.timeslices(_, env.cfg))
    try f(defs, stages, ts)
    finally Seq(defs, stages, ts).foreach(_.unpersist(blocking = true))
  }

  /** `validate:coverage`
    * (scripts/validate-workflow-instance-page-name.ts:40-64): non-null
    * coverage of workflow_instance_page_name in the LATEST canon
    * timeslices partition, with passing sample values and up to 10
    * failing timeslice ids for triage. */
  def validateCoverage(env: Env, dataDir: String): Quality.CoverageReport = {
    val ts = canonDataset(env, dataDir, "timeslices",
      Normalize.timeslices(emptyRaw(env), env.cfg).schema)
    val r = Quality.coverage(ts)
    env.log(s"[validate] timeslices_total=${r.total}")
    env.log(s"[validate] workflow_instance_page_name_non_null=${r.nonNull}")
    env.log(f"[validate] workflow_instance_page_name_non_null_pct=${r.pct}%.2f%%")
    r.sampleValues.foreach { case (id, v) => env.log(s"[validate] sample $id: $v") }
    r.failureSamples.foreach(id => env.log(s"[validate] missing $id"))
    r
  }

  /** `excel:export` (cli/index.ts:219-273): the star is derived once,
    * no table collected past one sheet's row limit; the integrity checks
    * and the sheets then read the collected tables. */
  def excelExport(env: Env, dataDir: String, outputPath: String): Map[String, Long] = {
    val counts = withCanonTables(env, dataDir) { (defs, stages, ts) =>
      val tables = Derive.deriveAll(defs, stages, ts, maxRows = Some(ExcelSink.MaxRows))
      val checks = Derive.integrityChecks(tables("FactTimeslices"), tables("DimStage"),
        tables("DimWorkflow"), stages, defs)
      ExcelSink.write(tables, outputPath, checks)
    }
    counts.toSeq.sortBy(_._1).foreach { case (k, n) => env.log(s"[excel] $k rows=$n") }
    counts
  }

  /** `pull` (cli/index.ts:40-71): pull each dataset through the adapter
    * (throttled in production; recorded payloads offline) and land raw
    * JSONL partitions under `raw/<dataset>/<utcDate>/`. */
  def pull(env: Env, adapter: Ingest.NotionAdapter, dataDir: String,
           databaseIds: Map[String, String],
           date: String = graft.functions.Scalars.utcDateStamp()): Map[String, Long] =
    databaseIds.map { case (dataset, dbId) =>
      val records = Ingest.pullDataset(adapter, dataset, dbId)
      val df = Ingest.toDataFrame(env.spark, records)
      JsonlSink.write(df, dataDir, "raw", dataset, date, singleFile = true)
      env.log(s"[pull] $dataset records=${records.size}")
      dataset -> records.size.toLong
    }

  /** `run` = pull + normalize (cli/index.ts:207-210). The raw partition
    * uses the same UTC day stamp as a standalone `pull:notion`
    * (cli/index.ts:43 utcDateStamp) — stamping it with the LA runDate
    * instead would sort LEXICOGRAPHICALLY BEHIND a same-evening UTC pull
    * and normalize would silently pick the stale partition. */
  def run(env: Env, adapter: Ingest.NotionAdapter, dataDir: String,
          databaseIds: Map[String, String]): Map[String, Long] = {
    pull(env, adapter, dataDir, databaseIds)
    normalize(env, dataDir)
  }

  case class AuditOutput(jsonPath: String, generatedPath: String,
                         schema: Map[String, Seq[(String, String, String)]])

  /** Scala string-literal escaping for the generated constants file —
    * control characters included: a property display name containing a
    * newline would otherwise split the literal across lines, producing
    * an uncompilable file and breaking the parseGeneratedSchema
    * round-trip (whose regexes are line-anchored). */
  private def scalaStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  /** JSON string escaping (quotes, backslashes, control chars) — the
    * audit JSON must stay parseable for user-entered property names. */
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  /** The generated-constants artifact (S2 parity with the reference's
    * src/config/notionSchema.generated.ts, cli/index.ts:133-140,199-204):
    * dataset → (property display name → (id, type)) as compilable Scala. */
  def generatedScala(schema: Map[String, Seq[(String, String, String)]]): String = {
    val datasets = schema.toSeq.sortBy(_._1).map { case (dataset, props) =>
      val entries = props.sortBy(_._1).map { case (name, id, tpe) =>
        s"      ${scalaStr(name)} -> (${scalaStr(id)}, ${scalaStr(tpe)})"
      }.mkString(",\n")
      s"    ${scalaStr(dataset)} -> Map(\n$entries)"
    }.mkString(",\n")
    s"""// GENERATED by `audit:notion-schema` — do not edit.
       |// Scala analog of the reference's src/config/notionSchema.generated.ts.
       |package graft.notion.generated
       |
       |object NotionSchemaGenerated {
       |  /** dataset -> (property display name -> (property id, type)). */
       |  val schema: Map[String, Map[String, (String, String)]] = Map(
       |$datasets)
       |}
       |""".stripMargin
  }

  /** Inverse of [[generatedScala]] — parses the strict generated format
    * back into the audit schema map (round-trip guarantee). */
  def parseGeneratedSchema(src: String): Map[String, Seq[(String, String, String)]] = {
    val dsRe = """^\s*"((?:[^"\\]|\\.)*)" -> Map\($""".r
    val propRe = """^\s*"((?:[^"\\]|\\.)*)" -> \("((?:[^"\\]|\\.)*)", "((?:[^"\\]|\\.)*)"\).*$""".r
    // full inverse of scalaStr, control-char escapes included
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) s(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' if i + 5 < s.length =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c => sb += c; i += 2
        } else { sb += s(i); i += 1 }
      }
      sb.toString
    }
    var current: Option[String] = None
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[(String, String, String)]]
    src.linesIterator.foreach {
      case dsRe(ds) =>
        current = Some(unescape(ds)); out(unescape(ds)) = Vector.empty
      case propRe(name, id, tpe) => current.foreach { ds =>
        out(ds) = out(ds) :+ ((unescape(name), unescape(id), unescape(tpe)))
      }
      case _ =>
    }
    out.toMap
  }

  /** `audit:notion-schema` (cli/index.ts:156-205): fetch each database's
    * property schema via the adapter, print `name | id | type`, write the
    * audit JSON AND the generated Scala constants file. Offline runs use
    * a recorded-payload adapter. */
  def auditNotionSchema(env: Env, adapter: Ingest.NotionAdapter, dataDir: String,
                        databaseIds: Map[String, String]): AuditOutput = {
    val sb = new StringBuilder("{\n")
    val schema = scala.collection.mutable.LinkedHashMap
      .empty[String, Seq[(String, String, String)]]
    databaseIds.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((dataset, dbId), i) =>
      val db = adapter.retrieveDatabase(dbId)
      env.log(s"[audit] dataset=$dataset database=$dbId")
      db.properties.sortBy(_.name).foreach { p =>
        env.log(f"  ${p.name}%-30s | ${p.id.getOrElse(p.name)}%-12s | ${p.propType.getOrElse("unknown")}")
      }
      schema(dataset) = db.properties.sortBy(_.name).map(p =>
        (p.name, p.id.getOrElse(p.name), p.propType.getOrElse("unknown")))
      val props = schema(dataset).map { case (name, id, tpe) =>
        s"""      {"name": ${jsonStr(name)}, "id": ${jsonStr(id)}, "type": ${jsonStr(tpe)}}"""
      }.mkString(",\n")
      sb.append(s"""  ${jsonStr(dataset)}: {"databaseId": ${jsonStr(dbId)}, "properties": [\n$props\n  ]}""")
      sb.append(if (i < databaseIds.size - 1) ",\n" else "\n")
    }
    sb.append("}\n")
    val auditDir = java.nio.file.Paths.get(s"$dataDir/audit")
    java.nio.file.Files.createDirectories(auditDir)
    val json = auditDir.resolve("notion-schema.json")
    java.nio.file.Files.write(json, sb.toString.getBytes("UTF-8"))
    val gen = auditDir.resolve("NotionSchemaGenerated.scala")
    java.nio.file.Files.write(gen, generatedScala(schema.toMap).getBytes("UTF-8"))
    env.log(s"[audit] wrote $json and $gen")
    AuditOutput(json.toString, gen.toString, schema.toMap)
  }

  /** `pbi:provision` (cli/index.ts:275-311). */
  def pbiProvision(env: Env, dataDir: String, groupId: String,
                   datasetName: String): String =
    Registry.ensureDataset(env.client, dataDir, groupId,
      PbiSpec.buildModelSpec(datasetName))

  /** `pbi:refresh` (cli/index.ts:313-408): derive + wipe/reload. */
  def pbiRefresh(env: Env, dataDir: String, groupId: String,
                 datasetName: String): Refresh.RefreshTotals = {
    val spec = PbiSpec.buildModelSpec(datasetName)
    val datasetId = Registry.findDatasetId(
      Registry.load(dataDir), groupId, datasetName).getOrElse(
      throw new IllegalStateException(
        s"Dataset '$datasetName' not found in registry; run pbi:provision first."))
    // the derived tables are already collected, so reading their rows
    // starts no job; the PBI push is driver-side by design (it posts
    // through one client, in the spec's table order)
    val rows = withCanonTables(env, dataDir) { (defs, stages, ts) =>
      Derive.deriveAll(defs, stages, ts).map { case (name, df) =>
        val cols = df.columns.toSeq
        name -> df.collect().toSeq.map(r =>
          cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
      }
    }
    Refresh.executeWipeAndReload(env.client, groupId, datasetId, spec, rows,
      log = env.log)
  }

  /** `run:end-to-end` (cli/index.ts:212-217): pull + normalize +
    * provision + refresh in one command. */
  def runEndToEnd(env: Env, adapter: Ingest.NotionAdapter, dataDir: String,
                  databaseIds: Map[String, String], groupId: String,
                  datasetName: String): Refresh.RefreshTotals = {
    run(env, adapter, dataDir, databaseIds)
    pbiProvision(env, dataDir, groupId, datasetName)
    pbiRefresh(env, dataDir, groupId, datasetName)
  }

  /** Live adapter when NOTION_TOKEN is present, else recorded payloads
    * under `<dataDir>/recorded/` (offline seam). */
  private def adapterFor(env: Env, dataDir: String): Ingest.NotionAdapter =
    env.adapter.getOrElse(sys.env.get("NOTION_TOKEN") match {
      case Some(token) => Ingest.throttled(new NotionApi.NotionHttpAdapter(token))
      case None => new NotionApi.RecordedNotionAdapter(s"$dataDir/recorded")
    })

  /** NOTION_DB_WORKFLOW_DEFINITIONS / _WORKFLOW_STAGES / _TIMESLICES env
    * vars; in recorded mode the dataset name doubles as the id (the
    * recorded file name). */
  private def databaseIdsFor(env: Env): Map[String, String] =
    env.databaseIds.getOrElse(Datasets.map { ds =>
      val envKey = "NOTION_DB_" + ds.replaceAll("([A-Z])", "_$1").toUpperCase
      ds -> sys.env.getOrElse(envKey, ds)
    }.toMap)

  /** Args → command execution; returns a process exit code. Factored
    * out of main so tests can drive the real dispatch table offline. */
  def dispatch(env: Env, args: List[String]): Int = args match {
    case "pull:notion" :: dataDir :: Nil =>
      pull(env, adapterFor(env, dataDir), dataDir, databaseIdsFor(env)); 0
    case "audit:notion-schema" :: dataDir :: Nil =>
      auditNotionSchema(env, adapterFor(env, dataDir), dataDir, databaseIdsFor(env)); 0
    case "normalize" :: dataDir :: Nil => normalize(env, dataDir); 0
    case "run" :: dataDir :: Nil =>
      run(env, adapterFor(env, dataDir), dataDir, databaseIdsFor(env)); 0
    case "run:end-to-end" :: dataDir :: group :: name :: Nil =>
      runEndToEnd(env, adapterFor(env, dataDir), dataDir, databaseIdsFor(env),
        group, name); 0
    case "excel:export" :: dataDir :: out :: Nil => excelExport(env, dataDir, out); 0
    case "pbi:provision" :: dataDir :: group :: name :: Nil =>
      env.log(pbiProvision(env, dataDir, group, name)); 0
    case "pbi:refresh" :: dataDir :: group :: name :: Nil =>
      pbiRefresh(env, dataDir, group, name); 0
    case "validate:coverage" :: dataDir :: Nil =>
      // script exits 1 when no canon dataset exists; the catch in main
      // maps the thrown IllegalStateException to the same non-zero exit
      validateCoverage(env, dataDir); 0
    case other =>
      System.err.println(s"Unknown command: ${other.mkString(" ")}. Commands: " +
        "pull:notion | audit:notion-schema | normalize | run | run:end-to-end | " +
        "excel:export | pbi:provision | pbi:refresh | validate:coverage")
      2
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val env = Env(spark, DefaultConfig.config)
    // cli/index.ts:436-440: top-level failure → log.error + exit 1
    val code =
      try dispatch(env, args.toList)
      catch { case NonFatal(e) =>
        env.logger.error("command failed", Some(e.toString)); 1
      }
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}

/** Default property-ID bindings; override per deployment (env.ts analog —
  * ids here are the generic fixture ids, not the reference's workspace). */
object DefaultConfig {
  val config: NotionSchemas.NotionConfig = NotionSchemas.NotionConfig(
    timeslices = NotionSchemas.TimeslicePropertyIds(
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
    workflowStages = NotionSchemas.WorkflowStagePropertyIds(
      workflowDefinitionRel = "wf_rel",
      stageNumber = "stage_number",
      stageLabel = "stage_label"),
    workflowDefinitions = NotionSchemas.WorkflowDefinitionPropertyIds(title = "title_prop"))
}
