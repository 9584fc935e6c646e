package graft.notion

import graft.functions.Scalars
import graft.util.{Broadcasts, Par}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Star-schema derivation (SURVEY §3.2; derive/index.ts:94-297): seven
  * tables from the three canonical datasets.
  *
  * Spark-first shape: the reference's build-side hash maps become
  * broadcast left joins (J1-J3); its frame×stage nested loops become
  * `explode(sequence(...))` + hash aggregation (J8/A6); integrity checks
  * become left_anti counts (J4-J6); key-set unions become full-outer
  * joins (J9/A10). The fact table never shuffles for dimension lookups —
  * all dims broadcast.
  *
  * The per-table builders each carry their whole lineage, lookups
  * included. [[deriveAll]] instead computes every shared piece once, in
  * dependency order, and hands back tables backed by their collected
  * rows.
  */
object Derive {

  val HourMs = 3600000L
  val DayMs = 86400000L

  val ExpectedTables: Seq[String] = Seq(
    "FactTimeslices", "DimWorkflow", "DimStage", "DimDate",
    "DimPlaybackFrame", "StageOccupancy_Hourly", "StageThroughput_Daily")

  /** Reference color palette (derive/index.ts:55-92) — parity constants:
    * color_hex output must byte-match the reference's assignment. */
  val ColorHexValues: Seq[String] = Seq(
    "#FF68A0", "#FF6C8B", "#FF7076", "#FF735F", "#FF7643", "#FF7800",
    "#EF8600", "#E19000", "#D59800", "#C89F00", "#BBA500", "#ABAC00",
    "#98B300", "#7BBB00", "#3DC500", "#00C55B", "#00C380", "#00C197",
    "#00BFA8", "#00BDB6", "#00BBC3", "#00B9CF", "#00B7DD", "#00B4EC",
    "#0EAFFF", "#51A9FF", "#6DA4FF", "#829EFF", "#9398FF", "#A491FF",
    "#B688FF", "#CA7BFF", "#E365FF", "#FF41F7", "#FF56D2", "#FF61B7")

  // -- scalar parity helpers (P19-P29, derive/index.ts:309-376,645-714) --

  private val OleEpochMs = -2209161600000L

  /** Parse a Notion-sourced ISO string, null on malformed input — the
    * reference's Date.parse-NaN-check semantics (derive/index.ts:309-376).
    * Under Spark 4 ANSI mode a plain to_timestamp would THROW on one
    * corrupt date.start string and kill the whole derive run. */
  private def tryTs(iso: Column): Column = try_to_timestamp(iso)

  /** P19 toPowerBiSerial over an ISO string. */
  def pbiSerial(iso: Column): Column = {
    val ms = unix_millis(tryTs(iso))
    when(iso.isNull || ms.isNull, lit(null).cast("double"))
      .otherwise((ms - lit(OleEpochMs)) / lit(86400000.0))
  }

  /** P20 normalizeIsoTimestamp: parse → UTC ISO with ms. */
  def normIso(iso: Column): Column = {
    val ts = tryTs(iso)
    when(iso.isNull || ts.isNull, lit(null).cast("string"))
      .otherwise(date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"))
  }

  /** P23 toLosAngelesDateStartIso over an ISO string. */
  def laDayIso(iso: Column): Column = {
    val ts = tryTs(iso)
    when(iso.isNull || ts.isNull, lit(null).cast("string"))
      .otherwise(date_format(from_utc_timestamp(ts, "America/Los_Angeles"),
        "yyyy-MM-dd'T00:00:00.000Z'"))
  }

  /** P24 LA snapshot label `YYYY-MM-DD HH:mm`. */
  def laLabel(iso: Column): Column =
    date_format(from_utc_timestamp(tryTs(iso), "America/Los_Angeles"),
      "yyyy-MM-dd HH:mm")

  /** P21/P22 stage-number normalization (non-finite guarded — ANSI
    * round/cast would throw on NaN/Infinity; reference returns 1/null,
    * derive/index.ts:331-343). */
  def stageNumber(n: Column): Column =
    Scalars.normalizeStageNumber(n)
  def stageNumberOrNull(n: Column): Column =
    Scalars.normalizeStageNumberOrNull(n)

  /** P29 assignStageColorHex over the reference palette. */
  def colorHex(key: Column): Column =
    element_at(array(ColorHexValues.map(lit): _*),
      ((conv(substring(sha2(key, 256), 1, 8), 16, 10).cast("long") % 36) + 1).cast("int"))

  // -- dimension prep -------------------------------------------------

  /** Last-wins per key: the reference's `Map.set` builds keep the LAST
    * row per key in input order (derive/index.ts:110-116,196); Spark has
    * no input order, so the deterministic proxy is latest
    * last_edited_time (nulls last, then a hash of the [[TieCols]] the
    * frame carries, for a total order). Every lookup of one entity
    * projects the same tie columns, so on a last_edited_time tie the
    * fact, DimStage and DimWorkflow all keep the SAME row. Prevents
    * duplicate canonical keys from both multiplying join probes and
    * yielding an arbitrary surviving row.
    *
    * Shaped as an argmax hash aggregate (`max_by`), not a row_number
    * window: partial aggregation combines map-side so only one candidate
    * row per key per partition ever shuffles, where the window form
    * shuffles EVERY row and then sorts — the wrong cost at scale, and
    * three extra sort/codegen stages on the fixture-sized parity path. */
  private def lastWins(df: DataFrame, key: String): DataFrame = {
    val row = struct(df.columns.toSeq.map(col): _*)
    val ord = struct(coalesce(col("last_edited_time"), lit("")),
      xxhash64(TieCols.filter(df.columns.contains).map(col): _*))
    df.groupBy(col(key))
      .agg(max_by(row, ord).as("_row"))
      .select(col("_row.*"))
  }

  /** The tie-break columns of [[lastWins]]: a definition's key and
    * title, a stage's key, number and label — the columns its lookups
    * carry, so rows differing in any of them never tie. */
  private val TieCols =
    Seq("source_page_id", "page_title", "stage_number", "stage_label")

  /** Explicit early pruning of a normalize output: the record builders
    * project ~25 parsed-payload expression trees (from_json over the
    * full payload union); referencing a builder from a dimension path
    * would otherwise drag every tree through analysis, optimization and
    * whole-stage codegen even though the dimension reads 4 columns.
    * A user-level select keeps the downstream plan narrow from the
    * start instead of relying on ColumnPruning to claw it back. */
  private def pruned(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(col): _*)

  /** Workflow-definition lookup (J1 build side): canonical id →
    * (key = source page id, label chain). */
  private def wfLookup(defs: DataFrame): DataFrame =
    lastWins(pruned(defs, "workflow_definition_id", "source_page_id",
        "page_title", "last_edited_time"), "workflow_definition_id").select(
      col("workflow_definition_id").as("wf_canon_id"),
      col("source_page_id").as("wf_key"),
      col("page_title").as("wf_title"))

  /** Label-by-key lookup (workflowLabelByKey, derive/index.ts:110-116). */
  private def wfLabelByKey(defs: DataFrame): DataFrame =
    lastWins(pruned(defs, "source_page_id", "page_title", "last_edited_time"),
      "source_page_id").select(col("source_page_id").as("lbl_key"),
      coalesce(col("page_title"), col("source_page_id")).as("lbl_label"))

  /** The three build sides the tables resolve through: the stage
    * winners and the two workflow-definition lookups.
    *
    * Both definition lookups read the same narrow 4-column projection of
    * `defs`, uncached: a cache here would outlive the command in the
    * session's CacheManager. The CLI caches the canon tables themselves
    * for one command, where `page_title` is a plain column. */
  private case class Lookups(stages: DataFrame, wf: DataFrame, wfLabel: DataFrame)

  private def lookups(defs: DataFrame, stages: DataFrame): Lookups = {
    val defsNarrow = pruned(defs, "workflow_definition_id", "source_page_id",
      "page_title", "last_edited_time")
    Lookups(stageWinners(stages), wfLookup(defsNarrow), wfLabelByKey(defsNarrow))
  }

  /** Resolve a canonical workflow id to (key, label) with the
    * reference's fallback chain (derive/index.ts:131-141). */
  private def resolveWorkflow(df: DataFrame, canonId: Column, lookups: Lookups,
                              keyName: String, labelName: String): DataFrame = {
    val lk = broadcast(lookups.wf)
    val lbl = broadcast(lookups.wfLabel)
    val withDef = df.join(lk, canonId === lk("wf_canon_id"), "left")
    val key = coalesce(col("wf_key"), Scalars.toUuidMaybe(canonId),
      lit("workflow_definition_unknown"))
    withDef.withColumn("_wfkey", key)
      .join(lbl, col("_wfkey") === lbl("lbl_key"), "left")
      .withColumn(keyName, col("_wfkey"))
      .withColumn(labelName, coalesce(col("wf_title"), col("lbl_label"), col("_wfkey")))
      .drop("wf_canon_id", "wf_key", "wf_title", "lbl_key", "lbl_label", "_wfkey")
  }

  /** The last-wins stage row per canonical stage id, narrowed to the
    * four columns a stage lookup reads. */
  private def stageWinners(stages: DataFrame): DataFrame =
    lastWins(pruned(stages, "workflow_stage_id", "source_page_id",
        "stage_number", "stage_label", "last_edited_time"),
      "workflow_stage_id").select(col("workflow_stage_id"),
      col("source_page_id"), col("stage_number"), col("stage_label"))

  /** Stage lookup (J2 build side): canonical stage id → key + meta,
    * under the column prefix of one join. */
  private def stageLookup(winners: DataFrame, prefix: String): DataFrame =
    winners.select(
      col("workflow_stage_id").as(s"${prefix}_canon_id"),
      col("source_page_id").as(s"${prefix}_stage_key"),
      stageNumberOrNull(col("stage_number")).as(s"${prefix}_stage_n"),
      col("stage_label").as(s"${prefix}_stage_label"))

  // -- the seven tables ----------------------------------------------

  /** FactTimeslices (derive/index.ts:131-182): 24 columns. */
  def factTimeslices(ts: DataFrame, defs: DataFrame, stages: DataFrame): DataFrame =
    factFrom(ts, lookups(defs, stages))

  private def factFrom(ts: DataFrame, lookups: Lookups): DataFrame = {
    val fromLk = broadcast(stageLookup(lookups.stages, "from"))
    val toLk = broadcast(stageLookup(lookups.stages, "to"))
    val toDateTimeRaw = coalesce(col("ended_at"), col("started_at"),
      col("last_edited_time"), col("created_time"))
    resolveWorkflow(ts, col("workflow_definition_id"), lookups, "_wf_key", "_wf_label")
      .join(fromLk, col("from_step_id") === col("from_canon_id"), "left")
      .join(toLk, col("to_step_id") === col("to_canon_id"), "left")
      .select(
        coalesce(col("page_title"), col("timeslice_id")).as("Name"),
        coalesce(Scalars.toUuidMaybe(col("from_event_id")), col("from_event_id"))
          .as("From Event"),
        col("from_status").as("From Status"),
        col("from_stage_n").as("From Step N"),
        col("from_task_name").as("From Task Name"),
        col("from_task_page_id").as("From Task Page ID"),
        pbiSerial(col("started_at")).as("From Time"),
        col("from_stage_label").as("From Workflow Step"),
        when(col("duration_seconds").isNotNull,
          round(col("duration_seconds") / lit(60.0)).cast("long")).as("Minutes Diff"),
        coalesce(col("page_title"), col("timeslice_id")).as("Slice Label"),
        coalesce(Scalars.toUuidMaybe(col("to_event_id")), col("to_event_id"))
          .as("To Event"),
        col("to_status").as("To Status"),
        col("to_stage_n").as("To Step N"),
        col("to_task_name").as("To Task Name"),
        col("to_task_page_id").as("To Task Page ID"),
        pbiSerial(col("ended_at")).as("To Time"),
        col("to_stage_label").as("To Workflow Step"),
        col("_wf_label").as("Workflow Definition"),
        coalesce(Scalars.toUuidMaybe(col("workflow_record_id")), col("workflow_record_id"))
          .as("Workflow Record"),
        col("workflow_type").as("Workflow Type"),
        normIso(toDateTimeRaw).as("To DateTime"),
        laDayIso(toDateTimeRaw).as("To Date"),
        col("from_stage_key").as("from_stage_key"),
        col("to_stage_key").as("to_stage_key"))
  }

  /** DimStage (derive/index.ts:184-207,216-218): last-wins per stage key,
    * sorted by key. */
  def dimStage(stages: DataFrame, defs: DataFrame): DataFrame =
    dimStageFrom(stages, lookups(defs, stages))

  private def dimStageFrom(stages: DataFrame, lookups: Lookups): DataFrame = {
    val n = stageNumber(col("stage_number"))
    val s = pruned(stages, "workflow_definition_id", "source_page_id",
      "stage_number", "stage_label", "last_edited_time")
    // last-wins BEFORE the projection (last_edited_time is still in
    // scope) — dropDuplicates alone keeps an arbitrary row per key
    lastWins(resolveWorkflow(s, col("workflow_definition_id"), lookups,
      "workflow_definition_key", "workflow_definition"), "source_page_id")
      .select(
        col("source_page_id").as("stage_key"),
        colorHex(col("source_page_id")).as("color_hex"),
        col("workflow_definition_key"),
        col("workflow_definition"),
        coalesce(col("stage_label"), col("source_page_id")).as("stage"),
        n.as("stage_n"),
        concat(lpad(n.cast("string"), 2, "0"), lit(". "),
          coalesce(col("stage_label"), col("source_page_id"))).as("Stage Label"))
      .orderBy(col("stage_key"))
  }

  /** DimWorkflow (derive/index.ts:209-214): last-wins per key, sorted —
    * the label-by-key lookup itself, so its label is the one the fact
    * and DimStage resolve. */
  def dimWorkflow(defs: DataFrame): DataFrame =
    dimWorkflowFrom(wfLabelByKey(defs))

  private def dimWorkflowFrom(labelByKey: DataFrame): DataFrame =
    labelByKey.select(col("lbl_key").as("workflow_definition_key"),
      col("lbl_label").as("workflow_definition"))
      .orderBy(col("workflow_definition_key"))

  /** DimDate (derive/index.ts:378-414): UTC daily spine over fact
    * `To Date` labels with en-US calendar attributes. */
  def dimDate(fact: DataFrame): DataFrame = {
    val mm = fact
      .filter(col("To Date").isNotNull && col("To Date") =!= "")
      .agg(min(col("To Date")).as("lo"), max(col("To Date")).as("hi"))
      .select(to_date(substring(col("lo"), 1, 10)).as("d0"),
        to_date(substring(col("hi"), 1, 10)).as("d1"))
      .filter(col("d0").isNotNull && col("d1").isNotNull)
    mm.select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      .select(
        date_format(col("day"), "yyyy-MM-dd'T00:00:00.000Z'").as("Date"),
        (year(col("day")) * 10000 + month(col("day")) * 100 +
          dayofmonth(col("day"))).as("date_key"),
        year(col("day")).as("year"),
        month(col("day")).as("month_num"),
        date_format(col("day"), "MMM").as("month_name"),
        dayofmonth(col("day")).as("day_of_month"),
        date_format(col("day"), "EEE").as("day_name"))
      .orderBy(col("date_key"))
  }

  /** DimPlaybackFrame (derive/index.ts:416-450): hourly spine over the
    * 4-candidate timestamp scan; frame_n 0-based. */
  def dimPlaybackFrame(ts: DataFrame): DataFrame = {
    val candMs = ts.select(explode(array(
        col("started_at"), col("ended_at"), col("last_edited_time"),
        col("created_time"))).as("c"))
      .select(unix_millis(try_to_timestamp(col("c"))).as("ms"))
      .filter(col("ms").isNotNull)
    val mm = candMs.agg(
      (floor(min(col("ms")) / HourMs) * HourMs).cast("long").as("h0"),
      (floor(max(col("ms")) / HourMs) * HourMs).cast("long").as("h1"))
    mm.select(col("h0"),
        explode(sequence(timestamp_millis(col("h0")), timestamp_millis(col("h1")),
          expr("interval 1 hour"))).as("f"))
      .select(
        ((unix_millis(col("f")) - col("h0")) / HourMs).cast("long").as("frame_n"),
        date_format(col("f"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("frame_datetime"),
        date_format(from_utc_timestamp(col("f"), "America/Los_Angeles"),
          "yyyy-MM-dd'T00:00:00.000Z'").as("frame_date"))
      .orderBy(col("frame_n"))
  }

  /** Stage intervals for occupancy (derive/index.ts:459-489): resolved
    * from-stage key + valid [start,end]; `workflow_record` is the
    * timeslice source_page_id. Second value of the pair counts skipped
    * missing/invalid intervals. */
  private def stageIntervals(ts: DataFrame, winners: DataFrame): (DataFrame, DataFrame) = {
    val lk = broadcast(stageLookup(winners, "occ"))
    val withBounds = ts
      .join(lk, col("from_step_id") === col("occ_canon_id"))
      .select(col("occ_stage_key").as("stage_key"),
        col("source_page_id").as("workflow_record"),
        unix_millis(try_to_timestamp(col("started_at"))).as("start_ms"),
        unix_millis(try_to_timestamp(col("ended_at"))).as("end_ms"))
    val valid = withBounds
      .filter(col("start_ms").isNotNull && col("end_ms").isNotNull &&
        col("end_ms") >= col("start_ms"))
    val skipped = withBounds
      .filter(col("start_ms").isNull || col("end_ms").isNull ||
        col("end_ms") < col("start_ms"))
    (valid, skipped)
  }

  /** StageOccupancy_Hourly (derive/index.ts:452-530): J8 containment via
    * hour explode + COUNT(DISTINCT workflow_record); zero rows omitted. */
  def stageOccupancyHourly(ts: DataFrame, stages: DataFrame, dimStageDf: DataFrame,
                           frames: DataFrame): DataFrame =
    occupancyFrom(ts, stageWinners(stages), dimStageDf, frames)

  private def occupancyFrom(ts: DataFrame, winners: DataFrame, dimStageDf: DataFrame,
                            frames: DataFrame): DataFrame = {
    val (valid, _) = stageIntervals(ts, winners)
    val firstH = (ceil(col("start_ms") / lit(3600000.0)) * HourMs).cast("long")
    val lastH = (floor(col("end_ms") / lit(3600000.0)) * HourMs).cast("long")
    val spine = frames.agg(min(unix_millis(try_to_timestamp(col("frame_datetime")))).as("f0"),
      max(unix_millis(try_to_timestamp(col("frame_datetime")))).as("f1"))
    // interval-skew guard (same as TimeSeries.chunkedIntervals): chunk a
    // pathological interval's hour range so no single task explodes an
    // unbounded number of rows; the chunk shuffle moves ~one row per
    // chunk, not per hour
    val chunkHours = 8760L
    val chunkMs = chunkHours * HourMs
    val hours = valid
      .withColumn("fh", firstH).withColumn("lh", lastH)
      .crossJoin(broadcast(spine))
      .withColumn("fh", greatest(col("fh"), col("f0")))
      .withColumn("lh", least(col("lh"), col("f1")))
      .filter(col("fh") <= col("lh"))
      .select(col("stage_key"), col("workflow_record"), col("f0"), col("lh"),
        explode(sequence(col("fh"), col("lh"), lit(chunkMs))).as("cfh"))
      .withColumn("clh", least(col("lh"), col("cfh") + lit(chunkMs - HourMs)))
      .repartition(col("cfh"))
      .select(col("stage_key"), col("workflow_record"),
        explode(sequence(timestamp_millis(col("cfh")), timestamp_millis(col("clh")),
          expr("interval 1 hour"))).as("frame_ts"),
        col("f0"))
    val counts = hours.groupBy(col("frame_ts"), col("stage_key"), col("f0"))
      .agg(countDistinct(col("workflow_record")).as("item_count"))
      .filter(col("item_count") > 0)
    counts
      .join(broadcast(dimStageDf), Seq("stage_key"))
      .select(
        ((unix_millis(col("frame_ts")) - col("f0")) / HourMs).cast("long").as("frame_n"),
        date_format(col("frame_ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("snapshot_dt"),
        date_format(from_utc_timestamp(col("frame_ts"), "America/Los_Angeles"),
          "yyyy-MM-dd'T00:00:00.000Z'").as("snapshot_day"),
        date_format(from_utc_timestamp(col("frame_ts"), "America/Los_Angeles"),
          "yyyy-MM-dd HH:mm").as("snapshot_label"),
        col("workflow_definition"),
        col("stage"),
        col("stage_n"),
        col("stage_key"),
        col("item_count"),
        col("item_count").as("Objective Count"))
      .orderBy(col("frame_n"), col("stage_key"))
  }

  /** StageThroughput_Daily (derive/index.ts:532-643): entry/exit counts
    * (+ stage-1 entry edges) full-outer merged with the occupancy daily
    * rollup; all-zero rows dropped; sorted by (day, stage). */
  def stageThroughputDaily(ts: DataFrame, stages: DataFrame, dimStageDf: DataFrame,
                           occupancyHourly: DataFrame): DataFrame =
    throughputFrom(ts, stageWinners(stages), dimStageDf, occupancyHourly)

  private def throughputFrom(ts: DataFrame, winners: DataFrame, dimStageDf: DataFrame,
                             occupancyHourly: DataFrame): DataFrame = {
    val fromLk = broadcast(stageLookup(winners, "thr"))
    val withFrom = ts.join(fromLk, col("from_step_id") === col("thr_canon_id"), "left")

    val entries = withFrom.filter(col("thr_stage_key").isNotNull)
      .withColumn("bucket_day", laDayIso(col("started_at")))
      .filter(col("bucket_day").isNotNull)
      .groupBy(col("bucket_day"), col("thr_stage_key").as("stage_key"))
      .agg(count(lit(1)).as("entry_count"))
    val exits = withFrom.filter(col("thr_stage_key").isNotNull)
      .withColumn("bucket_day", laDayIso(col("ended_at")))
      .filter(col("bucket_day").isNotNull)
      .groupBy(col("bucket_day"), col("thr_stage_key").as("stage_key"))
      .agg(count(lit(1)).as("exit_count"))

    // stage-1 entry edges (derive/index.ts:571-591)
    val toLk = broadcast(stageLookup(winners, "edge"))
    val edges = ts.filter(col("from_step_id").isNull && col("to_step_id").isNotNull)
      .join(toLk, col("to_step_id") === col("edge_canon_id"))
      .filter(col("edge_stage_n") === 1)
      .withColumn("event_ts", coalesce(
        normIso(col("ended_at")), normIso(col("started_at")),
        normIso(col("last_edited_time")), normIso(col("created_time"))))
      .withColumn("bucket_day", laDayIso(col("event_ts")))
      .filter(col("bucket_day").isNotNull)
      .groupBy(col("bucket_day"), col("edge_stage_key").as("stage_key"))
      .agg(count(lit(1)).as("edge_count"))

    val allEntries = entries.join(edges, Seq("bucket_day", "stage_key"), "full_outer")
      .select(col("bucket_day"), col("stage_key"),
        (coalesce(col("entry_count"), lit(0L)) + coalesce(col("edge_count"), lit(0L)))
          .as("entry_count"))

    val occDaily = occupancyHourly
      .groupBy(col("snapshot_day").as("bucket_day"), col("stage_key"))
      .agg(max(col("item_count")).as("occupancy_peak"),
        (sum(col("item_count")) / count(lit(1))).as("occupancy_avg"))

    val merged = allEntries
      .join(exits, Seq("bucket_day", "stage_key"), "full_outer")
      .join(occDaily, Seq("bucket_day", "stage_key"), "full_outer")
      .select(col("bucket_day"), col("stage_key"),
        coalesce(col("entry_count"), lit(0L)).as("entry_count"),
        coalesce(col("exit_count"), lit(0L)).as("exit_count"),
        coalesce(col("occupancy_peak"), lit(0L)).as("occupancy_peak"),
        coalesce(col("occupancy_avg"), lit(0.0)).as("occupancy_avg"))

    merged
      .join(broadcast(dimStageDf), Seq("stage_key"))
      .filter(regexp_extract(col("bucket_day"),
        "^(\\d{4})-(\\d{2})-(\\d{2})T00:00:00\\.000Z$", 1) =!= "")
      .select(
        col("bucket_day"),
        (substring(col("bucket_day"), 1, 4).cast("int") * 10000 +
          substring(col("bucket_day"), 6, 2).cast("int") * 100 +
          substring(col("bucket_day"), 9, 2).cast("int")).as("bucket_n"),
        col("workflow_definition"),
        col("stage"),
        col("stage_n"),
        col("stage_key"),
        col("entry_count"),
        col("exit_count"),
        col("occupancy_peak"),
        col("occupancy_avg"))
      .filter(col("entry_count") > 0 || col("exit_count") > 0 ||
        col("occupancy_peak") > 0 || col("occupancy_avg") > 0)
      .orderBy(col("bucket_day"), col("stage_key"))
  }

  /** Full derive DAG → the 7-table map (I6 table-set contract), with
    * each shared piece computed once. Four waves run in dependency
    * order; a wave's actions run side by side, and each result is
    * collected once and becomes a LocalRelation with the same schema and
    * row order, which the later waves build on:
    *  1. the three lookups (stage, workflow definition, label by key),
    *     and DimPlaybackFrame, which reads only the timeslices; the five
    *     prefixed stage lookups are selects over the one stage lookup;
    *  2. FactTimeslices, DimStage and DimWorkflow;
    *  3. DimDate over the fact, StageOccupancy_Hourly over DimStage and
    *     the frames;
    *  4. StageThroughput_Daily over the occupancy.
    *
    * The returned tables are materialized: collecting one is a local
    * scan that starts no job. They hold the rows of a star the callers
    * collect whole anyway.
    *
    * `maxRows` bounds what is collected of each table (lookups are not
    * bounded: a broadcast collects them whole in any case). A table past
    * it is collected to `maxRows + 1` rows only and is returned as its
    * lazy plan, so its consumer's own bounded collect refuses it and
    * the integrity checks still see every row. */
  def deriveAll(defs: DataFrame, stages: DataFrame, ts: DataFrame,
                maxRows: Option[Int] = None): Map[String, DataFrame] = {
    def wave(dfs: (DataFrame, Option[Int])*): Seq[DataFrame] = Par.map(dfs) { case (df, bound) =>
      val rows = Broadcasts.collect(bound.fold(df)(n => df.limit(n + 1)))
      if (bound.exists(rows.length > _)) df
      else df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }
    def bounded(dfs: DataFrame*) = dfs.map(_ -> maxRows)
    val lk = lookups(defs, stages)
    val Seq(stageLk, wfLk, labelLk, frames) = wave(lk.stages -> None, lk.wf -> None,
      lk.wfLabel -> None, dimPlaybackFrame(ts) -> maxRows)
    val local = Lookups(stageLk, wfLk, labelLk)
    val Seq(fact, dStage, dWorkflow) = wave(bounded(factFrom(ts, local),
      dimStageFrom(stages, local), dimWorkflowFrom(labelLk)): _*)
    val Seq(dDate, occupancy) = wave(bounded(dimDate(fact),
      occupancyFrom(ts, stageLk, dStage, frames)): _*)
    val Seq(throughput) = wave(bounded(throughputFrom(ts, stageLk, dStage, occupancy)): _*)
    val tables = Map(
      "FactTimeslices" -> fact,
      "DimWorkflow" -> dWorkflow,
      "DimStage" -> dStage,
      "DimDate" -> dDate,
      "DimPlaybackFrame" -> frames,
      "StageOccupancy_Hourly" -> occupancy,
      "StageThroughput_Daily" -> throughput)
    require(tables.keySet == ExpectedTables.toSet, "derive table-set contract violated")
    tables
  }

  /** Stage-3 side-channel counters (derive/index.ts:99-102,290-295):
    * the skip-and-count policy made queryable. Computed lazily from the
    * same lineage as the tables (counts are actions — call after or
    * instead of materializing the DAG). */
  case class DeriveCounters(
    occupancySkippedMissingOrInvalidInterval: Long,
    entryEdgeCounted: Long,
    entryEdgeSkippedMissingTimestamp: Long,
    nonStage1EntryEdgeObserved: Long)

  def counters(ts: DataFrame, stages: DataFrame): DeriveCounters = {
    val winners = stageWinners(stages)
    val (_, skipped) = stageIntervals(ts, winners)
    val toLk = broadcast(stageLookup(winners, "edge"))
    val edges = ts.filter(col("from_step_id").isNull && col("to_step_id").isNotNull)
      .join(toLk, col("to_step_id") === col("edge_canon_id"))
    val stage1 = edges.filter(col("edge_stage_n") === 1)
      .withColumn("event_ts", coalesce(
        normIso(col("ended_at")), normIso(col("started_at")),
        normIso(col("last_edited_time")), normIso(col("created_time"))))
      .withColumn("bucket_day", laDayIso(col("event_ts")))
    DeriveCounters(
      occupancySkippedMissingOrInvalidInterval = skipped.count(),
      entryEdgeCounted = stage1.filter(col("bucket_day").isNotNull).count(),
      entryEdgeSkippedMissingTimestamp = stage1.filter(col("bucket_day").isNull).count(),
      nonStage1EntryEdgeObserved =
        edges.filter(col("edge_stage_n").isNull || col("edge_stage_n") =!= 1).count())
  }

  /** J4-J6 integrity checks: throws with ≤10 samples on violation. The
    * checks run side by side; with several violations the first below
    * wins (stage keys of the fact, then DimWorkflow, then DimStage). */
  def assertIntegrity(fact: DataFrame, dimStageDf: DataFrame, dimWorkflowDf: DataFrame,
                      stages: DataFrame, defs: DataFrame): Unit =
    Par.map(integrityChecks(fact, dimStageDf, dimWorkflowDf, stages, defs))(_())

  /** The three checks of `assertIntegrity` as independent actions, in
    * precedence order. */
  def integrityChecks(fact: DataFrame, dimStageDf: DataFrame, dimWorkflowDf: DataFrame,
                      stages: DataFrame, defs: DataFrame): Seq[() => Unit] = {
    def check(keys: DataFrame, message: String): () => Unit = () => {
      val bad = Broadcasts.collect(keys.limit(10)).map(_.getString(0))
      if (bad.nonEmpty) throw new IllegalStateException(s"$message: ${bad.mkString(", ")}")
    }
    val stageKeys = stages.select(col("source_page_id").as("k")).distinct()
    val factKeys = fact.select(explode(array(col("from_stage_key"), col("to_stage_key"))).as("k"))
      .filter(col("k").isNotNull && col("k") =!= "")
    val defKeys = defs.select(col("source_page_id").as("k")).distinct()
    Seq(
      check(factKeys.join(broadcast(stageKeys), Seq("k"), "left_anti").distinct(),
        "FactTimeslices references stage keys not present in workflowStages"),
      check(dimWorkflowDf.select(col("workflow_definition_key").as("k"))
        .join(broadcast(defKeys), Seq("k"), "left_anti"),
        "DimWorkflow contains keys not present in workflowDefinitions"),
      check(dimStageDf.select(col("stage_key").as("k"))
        .join(broadcast(stageKeys), Seq("k"), "left_anti"),
        "DimStage contains keys not present in workflowStages"))
  }
}
