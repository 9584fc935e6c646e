package graft.queries

import graft.QueryModule
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-spine and interval operators — the reference's derive-phase time
  * semantics (SURVEY §2.5-§2.7) re-expressed with `sequence` + `explode`:
  *
  *  - A3/A4 DimDate daily spine with calendar attributes
  *    (derive/index.ts:378-414)
  *  - A5 DimPlaybackFrame hourly spine with frame_n ordinal
  *    (derive/index.ts:416-450)
  *  - J8+A6 hourly stage occupancy: interval containment (inclusive both
  *    ends) with COUNT(DISTINCT), zero rows omitted
  *    (derive/index.ts:452-530, predicate at :507)
  *  - A9 daily occupancy rollup: peak = max, avg over hourly rows
  *    (derive/index.ts:594-601)
  *  - A7/A8/A10+J9 daily throughput: entry/exit counts full-outer merged
  *    with zero defaults and bucket_n key (derive/index.ts:532-643)
  *
  * Events are interpreted as intervals: start = ts, end = ts + `value`
  * minutes (µs-exact arithmetic on both engines).
  *
  * Scale notes: spines are generated on the cluster with
  * `explode(sequence(...))` — a single-row agg broadcast, no driver loop.
  * Occupancy explodes each interval into its contained hour instants and
  * hash-aggregates — shuffle is on (hour, key), partial aggregation
  * applies, and rows stay proportional to Σ interval-hours, not to
  * |frames| × |events|. At 100 TB, long-lived intervals would be the skew
  * risk: cap/split pathological intervals upstream or use an
  * interval-tree TypedImperativeAggregate (SURVEY §2.9).
  */
object TimeSeries extends QueryModule {

  /** µs-exact interval bounds shared by the occupancy/throughput queries. */
  private def eventIntervals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("start_us", unix_micros(col("ts")))
      .withColumn("end_us",
        // floor, not int-cast: oracles use CAST(FLOOR(value) AS BIGINT),
        // and truncation-toward-zero diverges on negative values
        col("start_us") + floor(col("value")).cast("long") * lit(60000000L))
      .withColumn("start_ts", timestamp_micros(col("start_us")))
      .withColumn("end_ts", timestamp_micros(col("end_us")))

  /** A3/A4 — daily date spine over orders with DimDate attributes. */
  def qDateSpine(spark: SparkSession, dir: String): DataFrame = {
    val mm = Tables.orders(spark, dir)
      .agg(to_date(min(col("o_orderdate"))).as("d0"),
           to_date(max(col("o_orderdate"))).as("d1"))
    mm.select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      .select(
        col("day"),
        (year(col("day")) * 10000 + month(col("day")) * 100 +
          dayofmonth(col("day"))).as("date_key"),
        year(col("day")).as("year"),
        month(col("day")).as("month_num"),
        date_format(col("day"), "MMM").as("month_name"),
        dayofmonth(col("day")).as("day_of_month"),
        date_format(col("day"), "EEE").as("day_name"))
      .orderBy(col("day"))
  }

  /** A5 — hourly playback-frame spine over the events min/max hour with
    * 1-based frame_n ordinal (pure arithmetic, no window shuffle). */
  def qHourSpine(spark: SparkSession, dir: String): DataFrame = {
    val mm = eventIntervals(spark, dir)
      .agg(date_trunc("hour", min(col("start_ts"))).as("h0"),
           date_trunc("hour", max(col("end_ts"))).as("h1"))
    mm.select(col("h0"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("frame_ts"))
      .select(col("frame_ts"),
        ((unix_micros(col("frame_ts")) - unix_micros(col("h0"))) / lit(3600000000L) + 1L)
          .cast("long").as("frame_n"))
      .orderBy(col("frame_ts"))
  }

  private val HourUs = 3600000000L

  /** Interval-skew guard: one pathological (years-long) interval would
    * otherwise explode millions of hour rows inside a single task (an
    * explode is narrow — all output of one input row stays in one
    * partition). Chunk each interval into ≤ maxHoursPerChunk-hour spans
    * first, shuffle the CHUNKS (cheap: ≈ one row per chunk, not per
    * hour), then explode hours within a chunk — per-task fan-out is
    * bounded by the cap. Columns: input + (chunk_fh, chunk_lh) in µs. */
  def chunkedIntervals(iv: DataFrame, maxHoursPerChunk: Int): DataFrame = {
    val chunkUs = maxHoursPerChunk.toLong * HourUs
    iv.select(col("*"),
        explode(sequence(col("fh_us"), col("lh_us"), lit(chunkUs))).as("chunk_fh"))
      .withColumn("chunk_lh",
        least(col("lh_us"), col("chunk_fh") + lit(chunkUs - HourUs)))
  }

  /** J8+A6 core — hourly occupancy over an interval DataFrame with
    * columns (event_type, user_id, start_us, end_us): for each hour
    * instant contained in [start, end] (inclusive both ends),
    * COUNT(DISTINCT user_id) per (frame_ts, event_type); zero-count rows
    * naturally omitted; invalid intervals skipped. maxHoursPerChunk
    * bounds per-task explode fan-out (see chunkedIntervals). */
  def occupancyHourly(iv0: DataFrame, maxHoursPerChunk: Int = 8760): DataFrame = {
    val iv = iv0.filter(col("end_us") >= col("start_us")) // skip invalid intervals (derive/index.ts:470-478)
    // first/last hour instants within the closed interval
    val withHours = iv
      .withColumn("fh_us", (ceil(col("start_us") / lit(3600000000.0)) * HourUs).cast("long"))
      .withColumn("lh_us", (floor(col("end_us") / lit(3600000000.0)) * HourUs).cast("long"))
      .filter(col("fh_us") <= col("lh_us"))
    chunkedIntervals(withHours, maxHoursPerChunk)
      .repartition(col("chunk_fh")) // spread one interval's chunks across tasks
      .select(col("event_type"), col("user_id"),
        explode(sequence(timestamp_micros(col("chunk_fh")),
          timestamp_micros(col("chunk_lh")), expr("interval 1 hour"))).as("frame_ts"))
      .groupBy(col("frame_ts"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("item_count"))
  }

  def qOccupancyHourly(spark: SparkSession, dir: String): DataFrame =
    occupancyHourly(eventIntervals(spark, dir))
      .orderBy(col("frame_ts"), col("event_type"))

  /** A6 at 100 TB: COUNT(DISTINCT) forces an exact shuffle per key; the
    * HLL sketch (approx_count_distinct, rsd 5%) is one pass with
    * mergeable partial state — the right trade when frames × keys is
    * huge. Sketch values are engine-specific, so the ORACLE-CHECKED
    * output is the group shape + exact count + a bounded-relative-error
    * flag on the sketch (|approx − exact| ≤ max(1, 0.15·exact), well
    * above 3·rsd): DuckDB reproduces the keys/exact/TRUE exactly, so a
    * sketch drifting out of tolerance flips the flag and fails the hash
    * compare. (The exact count exists here only to certify the sketch —
    * the production operator is the approx-only aggregation.) */
  def qOccupancyApprox(spark: SparkSession, dir: String): DataFrame = {
    val iv = eventIntervals(spark, dir)
      .filter(col("end_us") >= col("start_us"))
    val firstHour = timestamp_micros(
      (ceil(col("start_us") / lit(3600000000.0)) * 3600000000L).cast("long"))
    val lastHour = timestamp_micros(
      (floor(col("end_us") / lit(3600000000.0)) * 3600000000L).cast("long"))
    iv.withColumn("fh", firstHour).withColumn("lh", lastHour)
      .filter(col("fh") <= col("lh"))
      .select(col("event_type"), col("user_id"),
        explode(sequence(col("fh"), col("lh"), expr("interval 1 hour"))).as("frame_ts"))
      .groupBy(col("frame_ts"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("item_count"),
        approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .select(col("frame_ts"), col("event_type"), col("item_count"),
        (abs(col("approx") - col("item_count")) <=
          greatest(lit(1.0), col("item_count") * lit(0.15))).as("within_rel_err"))
      .orderBy(col("frame_ts"), col("event_type"))
  }

  /** A9 — daily occupancy rollup from the hourly frames: peak + avg. */
  def qOccupancyDaily(spark: SparkSession, dir: String): DataFrame =
    qOccupancyHourly(spark, dir)
      .groupBy(to_date(col("frame_ts")).as("bucket_day"), col("event_type"))
      .agg(max(col("item_count")).as("occupancy_peak"),
           round(avg(col("item_count")), 4).as("occupancy_avg"))
      .orderBy(col("bucket_day"), col("event_type"))

  /** A7/A8/A10+J9 — daily throughput: entries by start-day, exits by
    * end-day, full-outer key union with zero defaults and bucket_n. */
  def qThroughputDaily(spark: SparkSession, dir: String): DataFrame = {
    val iv = eventIntervals(spark, dir)
    val entries = iv.groupBy(to_date(col("start_ts")).as("bucket_day"),
        col("event_type"))
      .agg(count(lit(1)).as("entries"))
    val exits = iv.groupBy(to_date(col("end_ts")).as("bucket_day"),
        col("event_type"))
      .agg(count(lit(1)).as("exits"))
    entries.join(exits, Seq("bucket_day", "event_type"), "full_outer")
      .select(col("bucket_day"), col("event_type"),
        coalesce(col("entries"), lit(0L)).as("entries"),
        coalesce(col("exits"), lit(0L)).as("exits"),
        (year(col("bucket_day")) * 10000 + month(col("bucket_day")) * 100 +
          dayofmonth(col("bucket_day"))).as("bucket_n"))
      .filter(col("entries") > 0 || col("exits") > 0) // drop all-zero rows (derive/index.ts:640)
      .orderBy(col("bucket_day"), col("event_type"))
  }

  /** Gap-based batch sessionization — the batch analog of the streaming
    * sessionizer (streaming.EventStreams): consecutive events of a user
    * more than `gapSeconds` apart start a new session; a session
    * aggregates its span, event count, and value total.
    *
    * Scale shape: ONE shuffle on user_id serves everything — lag and the
    * running session counter are two Window nodes over the same
    * (partition, order) so they share the Exchange+Sort, and the final
    * per-(user, session) aggregate is clustered by a superset of the
    * existing user_id hash partitioning, so it adds no shuffle. Skewed
    * users (bot traffic) are the 100 TB risk: a single user's history
    * must fit one task's sort spill — cap per-user history upstream or
    * pre-split pathological users by day before sessionizing. */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapSeconds * 1000000L,
          lit(1L)).otherwise(lit(0L)))
      // explicit ROWS frame: the default RANGE frame would tie-group
      // equal timestamps and diverge from the oracle's running sum
      .withColumn("session_seq", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))
  }

  /** Sessionized events at a 30-minute inactivity gap. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame =
    sessionize(Tables.events(spark, dir), gapSeconds = 1800L)
      .orderBy(col("user_id"), col("session_seq"))

  /** Incremental distinct-users-per-day through PERSISTED HLL sketch
    * epochs (operators.Sketches): the event log splits into two ingest
    * epochs (event_id parity); epoch 0's daily sketches are saved to
    * parquet and read back (the artifact path a real pipeline runs),
    * epoch 1's are merged in, and the union's estimate is gated with
    * the bounded-relative-error contract: the oracle reproduces
    * (day, exact, TRUE) exactly, so an estimate drifting outside
    * |approx − exact| ≤ max(1, 0.15·exact) flips the flag and fails
    * the hash compare (estimates are deterministic: HLL registers are
    * insertion-order independent). */
  def qDistinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("d"), col("user_id"), col("event_id"))
    val skPath = graft.util.Scratch.dir("hll_epoch0")
    graft.operators.Sketches.saveSketches(
      graft.operators.Sketches.dailySketches(
        ev.filter(col("event_id") % 2 === 0), "d", "user_id"), skPath)
    val merged = graft.operators.Sketches.mergeEpochs(
      graft.operators.Sketches.loadSketches(spark, skPath),
      graft.operators.Sketches.dailySketches(
        ev.filter(col("event_id") % 2 =!= 0), "d", "user_id"))
    val exact = ev.groupBy(col("d").as("bucket_day"))
      .agg(countDistinct(col("user_id")).as("item_count"))
    graft.operators.Sketches.estimates(merged)
      .join(exact, Seq("bucket_day"))
      .select(col("bucket_day"), col("item_count"),
        (abs(col("approx") - col("item_count")) <=
          greatest(lit(1.0), col("item_count") * lit(0.15))).as("within_rel_err"))
      .orderBy(col("bucket_day"))
  }

  /** KMV/theta set-operation sketches ([[graft.operators.ThetaSketch]]):
    * per-event-type sketches of distinct user-DAYS (~1.6k per type at
    * sf0.01 — past the k=512 saturation point, so the gate exercises
    * real estimation, not the exact small-set mode), built as two
    * hash-split ingest epochs committed as two table versions, folded,
    * then pairwise intersection/union estimates checked against exact
    * counts with bounded-relative-error flags. KMV estimates are
    * deterministic per input set (bottom-k of a fixed hash), so the
    * flags are stable for the oracle to pin TRUE. Bounds carry ≥3×
    * margin over the observed worst error at sf0.01 (intersection RSE
    * ~1/√(k·J) is the loose one). */
  val ThetaK = 512

  def qThetaIntersect(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ThetaSketch
    val ev = Tables.events(spark, dir).select(col("event_type"),
      concat(col("user_id").cast("string"), lit("-"),
        date_format(col("ts"), "yyyyMMdd")).as("ud"))
    val root = graft.util.Scratch.freshDir("theta") + "/sk"
    val split = pmod(xxhash64(col("ud")), lit(2))
    ThetaSketch.commitSketches(
      ThetaSketch.sketchBy(ev.filter(split === 0), "event_type", "ud",
        ThetaK), root)
    ThetaSketch.commitSketches(
      ThetaSketch.mergeEpochs(
        ThetaSketch.readSketches(spark, root),
        ThetaSketch.sketchBy(ev.filter(split === 1), "event_type", "ud",
          ThetaK),
        "event_type", ThetaK), root)
    val s = ThetaSketch.readSketches(spark, root)
    val pairs = s.select(col("event_type").as("type_a"), col("kmv").as("ka"))
      .join(s.select(col("event_type").as("type_b"), col("kmv").as("kb")),
        col("type_a") < col("type_b"))
    // cached: the per-type counts, and BOTH sides of the exact
    // intersection self-join, read the distinct (type, user-day) set —
    // uncached it recomputes (scan + concat + distinct shuffle) per
    // consumer
    val du = ev.distinct().cache()
    val cnts = du.groupBy("event_type").agg(count(lit(1)).as("c"))
    val inter = du.as("x")
      .join(du.as("y"), col("x.ud") === col("y.ud") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs.join(inter, Seq("type_a", "type_b"))
      .join(cnts.select(col("event_type").as("type_a"), col("c").as("ca")),
        Seq("type_a"))
      .join(cnts.select(col("event_type").as("type_b"), col("c").as("cb")),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_inter"),
        (col("ca") + col("cb") - col("n_inter")).as("n_union"),
        (abs(ThetaSketch.intersectEstimate(col("ka"), col("kb"), ThetaK) -
          col("n_inter")) <=
          greatest(lit(8.0), col("n_inter") * lit(0.25)))
          .as("inter_within_bound"),
        (abs(ThetaSketch.unionEstimate(col("ka"), col("kb"), ThetaK) -
          (col("ca") + col("cb") - col("n_inter"))) <=
          greatest(lit(8.0), (col("ca") + col("cb") - col("n_inter")) *
            lit(0.15))).as("union_within_bound"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Cohort retention matrix (operators.Cohorts): users bucketed by
    * first-activity day, activity counted per (cohort, day-offset). */
  def qRetention(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cohorts.retention(Tables.events(spark, dir),
        "user_id", "ts")
      .select(col("cohort_day"), col("day_offset").cast("long"),
        col("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))

  /** Ordered view→click→purchase funnel (operators.Cohorts): stage i
    * requires an event strictly after the stage-(i−1) time. */
  def qFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cohorts.funnel(Tables.events(spark, dir),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .orderBy(col("step"))

  /** SCD2 dimension history (operators.Scd2) over the event log: each
    * user's event_type observations collapse into versioned
    * effective-range rows. Ties broken by event_id on both engines. */
  def qScd2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Scd2.history(Tables.events(spark, dir),
        idCol = "user_id", tsCol = "ts", valCol = "event_type",
        tieCol = "event_id")
      .orderBy(col("user_id"), col("version"))

  /** Point-in-time lookup (Scd2.pointInTime) of purchase events against
    * the user's SCD2 event-type history: the temporal-join half of the
    * SCD2 contract — "which version was in effect when the purchase
    * happened". Every purchase is itself an observation in the log, so
    * each fact lands in exactly one half-open validity range. */
  def qScd2Lookup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val hist = graft.operators.Scd2.history(ev,
      idCol = "user_id", tsCol = "ts", valCol = "event_type",
      tieCol = "event_id")
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.Scd2.pointInTime(hist, facts, "user_id", "ts")
      .select(col("event_id"), col("user_id"), col("version"),
        col("event_type").as("state"), col("n_obs"), col("is_current"))
      .orderBy(col("event_id"))
  }

  /** Debounce window: an event repeating the user's immediately-previous
    * event_type within this gap is a bounce, not a signal. */
  val DebounceUs = 3600000000L // 1 hour

  /** Event-stream debounce: drop an event when the same user emitted
    * the SAME event_type within [[DebounceUs]] just before it — the
    * at-least-once-delivery / double-click cleaner every event pipeline
    * runs first. One lag over the (user, time) window; µs-integer gap
    * arithmetic so the keep decision is exact on any engine. */
  def qDebounce(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type") ||
        col("gap_us") > DebounceUs)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** Per-type inter-arrival statistics: the gap between a user's
    * consecutive events, attributed to the later event's type —
    * the latency/cadence profile behind capacity planning and bot
    * detection. Exact integer µs sums; the only division is the final
    * avg, identical on both engines. */
  def qInterarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap_us")) / lit(1000000.0), 4).as("avg_gap_s"),
        round(max(col("gap_us")) / lit(1000000.0), 4).as("max_gap_s"))
      .orderBy(col("event_type"))
  }

  /** Daily volume anomaly: a day is anomalous for a type when its event
    * count deviates from the trailing 7-day mean by more than 25% —
    * the ingest-monitoring alarm ("did yesterday's feed drop?"). The
    * deviation uses only exact-integer window sums and one division, so
    * flag decisions can't drift between engines; warm-up days (fewer
    * than 7 priors) are excluded rather than flagged on thin baselines. */
  def qAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("base_n", count(col("n")).over(w))
      .withColumn("base_sum", sum(col("n")).over(w))
      .filter(col("base_n") === 7)
      .withColumn("dev",
        round((col("n") - col("base_sum") / lit(7.0)) /
          (col("base_sum") / lit(7.0)), 4))
      .withColumn("is_anomaly", abs(col("dev")) > lit(0.25))
      .select(col("event_type"), col("day"), col("n"), col("dev"),
        col("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Bucketized point-in-interval range join (operators.RangeJoin):
    * purchases matched to the 'view' intervals containing them, per
    * user. 1-hour grain ≈ the median interval length. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("t"))
    val iv = eventIntervals(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("start_us"), col("end_us"))
    graft.operators.RangeJoin.pointInInterval(p, iv, "user_id",
      "t", "start_us", "end_us", grain = 3600000000L)
      .select(col("purchase_id"), col("user_id"), col("view_id"))
      .orderBy(col("purchase_id"), col("view_id"))
  }

  /** Merge overlapping-or-touching intervals per key (gaps-and-islands
    * over RANGES — the classic coverage op: total machine-busy time,
    * user-active time, effective SLA windows). Islands form with ONE
    * key-partitioned sort shared by both windows: an interval starts a
    * new island iff its start exceeds the running max end of everything
    * before it; island ids are the running sum of those starts. All
    * µs-integer arithmetic — coverage is exact on any engine. Output:
    * one row per key — n_intervals, n_islands, covered_us (union
    * length, overlaps counted once). Touching intervals (start == prior
    * max end) merge: under half-open semantics they cover contiguously. */
  def intervalUnionByKey(df: DataFrame, keyCol: String,
                         startCol: String, endCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val withIsland = df
      .withColumn("_iu_new",
        when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("_iu_island", sum(col("_iu_new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    withIsland
      .groupBy(col(keyCol), col("_iu_island"))
      .agg(count(lit(1)).as("_n"),
        min(col(startCol)).as("_s"), max(col(endCol)).as("_e"))
      .groupBy(col(keyCol))
      .agg(sum(col("_n")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("_e") - col("_s")).as("covered_us"))
  }

  /** Interval-union coverage per user over synthetic event intervals:
    * each event opens a window of (cents mod 3600 + 1) seconds — long
    * enough that a user's bursts overlap — and the union length counts
    * overlapped time ONCE. Oracle: the identical two-window island
    * construction in SQL. */
  def qIntervalUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("s_us", unix_micros(col("ts")))
      .withColumn("e_us", col("s_us") +
        (pmod(round(col("value") * 100, 0).cast("long"), lit(3600L)) + 1L)
          * 1000000L)
    intervalUnionByKey(ev, "user_id", "s_us", "e_us")
      .orderBy(col("user_id"))
  }

  /** Densify a (key, day, value) table onto the FULL key × day-spine
    * grid and forward-fill gaps (LOCF — last observation carried
    * forward, the reporting/imputation primitive): absent cells
    * surface with `has_data = false` and the most recent prior value;
    * keys with no prior observation carry NULL (imputing before first
    * observation would be invention, not carry-forward). Scale shape:
    * the day spine is a 1-row aggregate exploded (|days| rows,
    * broadcast); the grid is keys × spine — the densified OUTPUT
    * size, not an intermediate blowup; one left join + one key-
    * partitioned window. */
  def densifyDailyLocf(df: DataFrame, keyCol: String, dayCol: String,
                       valCol: String): DataFrame = {
    val spine = df.agg(min(col(dayCol)).as("_lo"), max(col(dayCol)).as("_hi"))
      .select(explode(sequence(col("_lo"), col("_hi"),
        expr("interval 1 day"))).as(dayCol))
    val grid = df.select(col(keyCol)).distinct()
      .crossJoin(broadcast(spine))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    grid.join(df.select(col(keyCol), col(dayCol), col(valCol)),
        Seq(keyCol, dayCol), "left")
      .withColumn("has_data", col(valCol).isNotNull)
      .withColumn("filled",
        last(col(valCol), ignoreNulls = true).over(w))
      .drop(valCol)
  }

  /** Densify + LOCF over an engineered-sparse daily grid: integer-cents
    * sums per (event_type × user-bucket) key — ~500 keys × the day
    * spine leaves a few percent of cells empty, so carry-forward and
    * the NULL-before-first-observation contract are both exercised.
    * Oracle: generate_series spine × distinct keys, LEFT JOIN, and
    * DuckDB's own `last_value(... IGNORE NULLS)`. */
  def qDensifyLocf(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .withColumn("k", concat(col("event_type"), lit("_"),
        pmod(col("user_id"), lit(97L)).cast("string")))
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .groupBy(col("k"), col("day")).agg(sum(col("cents")).as("v"))
    densifyDailyLocf(d, "k", "day", "v")
      .orderBy(col("k"), col("day"))
  }

  /** Observation-gap report per key — "which feeds have holes": from
    * each key's set of OBSERVED days, the runs of missing days between
    * consecutive observations (lead − day − 1): how many gaps, the
    * longest, and the total days missing. Keys observed on every day
    * of their own span report zeros. One key-partitioned window over
    * DISTINCT observed days (∝ |key, day| pairs, not rows); integer
    * day arithmetic end to end. */
  def observationGaps(df: DataFrame, keyCol: String,
                      dayCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
    df.select(col(keyCol), col(dayCol)).distinct()
      .withColumn("_gap",
        datediff(lead(col(dayCol), 1).over(w), col(dayCol)) - 1)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days_observed"),
        sum(when(col("_gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(when(col("_gap") > 0, col("_gap"))), lit(0))
          .cast("long").as("max_gap_days"),
        coalesce(sum(when(col("_gap") > 0, col("_gap"))), lit(0))
          .cast("long").as("missing_days"))
  }

  /** Gap report over the engineered-sparse key grid of
    * [[qDensifyLocf]] — the monitoring twin of the densify gate. */
  def qGapReport(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .withColumn("k", concat(col("event_type"), lit("_"),
        pmod(col("user_id"), lit(97L)).cast("string")))
      .withColumn("day", to_date(col("ts")))
    observationGaps(d, "k", "day").orderBy(col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interval_union"  -> qIntervalUnion _,
    "q_densify_locf"    -> qDensifyLocf _,
    "q_gap_report"      -> qGapReport _,
    "q_range_join"       -> qRangeJoin _,
    "q_date_spine"       -> qDateSpine _,
    "q_hour_spine"       -> qHourSpine _,
    "q_occupancy_hourly" -> qOccupancyHourly _,
    "q_occupancy_approx" -> qOccupancyApprox _,
    "q_occupancy_daily"  -> qOccupancyDaily _,
    "q_throughput_daily" -> qThroughputDaily _,
    "q_sessionize"       -> qSessionize _,
    "q_scd2"             -> qScd2 _,
    "q_scd2_lookup"      -> qScd2Lookup _,
    "q_debounce"         -> qDebounce _,
    "q_interarrival"     -> qInterarrival _,
    "q_anomaly"          -> qAnomaly _,
    "q_distinct_sketch"  -> qDistinctSketch _,
    "q_theta_intersect"  -> qThetaIntersect _,
    "q_retention"        -> qRetention _,
    "q_funnel"           -> qFunnel _)

  val oracleSql: Map[String, String] = Map(
    "q_gap_report" ->
      """WITH d AS (SELECT DISTINCT event_type || '_' ||
        |      CAST(user_id % 97 AS VARCHAR) AS k,
        |    CAST(ts AS DATE) AS day
        |  FROM events),
        |g AS (SELECT k, day,
        |    date_diff('day', day, lead(day, 1) OVER (PARTITION BY k
        |      ORDER BY day)) - 1 AS gap
        |  FROM d)
        |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_days_observed,
        |  CAST(SUM(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(coalesce(MAX(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
        |    AS max_gap_days,
        |  CAST(coalesce(SUM(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT)
        |    AS missing_days
        |FROM g GROUP BY 1 ORDER BY k""".stripMargin,
    "q_densify_locf" ->
      """WITH d AS (SELECT event_type || '_' ||
        |      CAST(user_id % 97 AS VARCHAR) AS k,
        |    CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round("value" * 100, 0) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
        |spine AS (SELECT CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
        |grid AS (SELECT k, day FROM (SELECT DISTINCT k FROM d)
        |  CROSS JOIN spine),
        |j AS (SELECT grid.k, grid.day, d.v FROM grid
        |  LEFT JOIN d ON d.k = grid.k AND d.day = grid.day)
        |SELECT k, day, v IS NOT NULL AS has_data,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM j ORDER BY k, day""".stripMargin,
    "q_interval_union" ->
      """WITH iv AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) +
        |      (CAST(round("value" * 100, 0) AS BIGINT) % 3600 + 1) * 1000000
        |      AS e_us
        |  FROM events),
        |w AS (SELECT user_id, s_us, e_us,
        |    MAX(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |f AS (SELECT user_id, s_us, e_us,
        |    CASE WHEN prev_max IS NULL OR s_us > prev_max
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM w),
        |g AS (SELECT user_id, s_us, e_us,
        |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |i AS (SELECT user_id, island, COUNT(*) AS n,
        |    MIN(s_us) AS s, MAX(e_us) AS e
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_intervals,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(e - s) AS BIGINT) AS covered_us
        |FROM i GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_range_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t
        |  FROM events WHERE event_type = 'purchase'),
        |iv AS (SELECT event_id AS view_id, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      + CAST(FLOOR(value) AS BIGINT) * 60000000 AS e
        |  FROM events WHERE event_type = 'view')
        |SELECT p.purchase_id, p.user_id, iv.view_id
        |FROM p JOIN iv ON p.user_id = iv.user_id AND p.t BETWEEN iv.s AND iv.e
        |ORDER BY purchase_id, view_id""".stripMargin,
    "q_date_spine" ->
      """WITH mm AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
        |                   CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders),
        |days AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM mm)
        |SELECT day,
        |  CAST(date_part('year', day) * 10000 + date_part('month', day) * 100 +
        |       date_part('day', day) AS INT) AS date_key,
        |  CAST(date_part('year', day) AS INT) AS year,
        |  CAST(date_part('month', day) AS INT) AS month_num,
        |  strftime(day, '%b') AS month_name,
        |  CAST(date_part('day', day) AS INT) AS day_of_month,
        |  strftime(day, '%a') AS day_name
        |FROM days ORDER BY day""".stripMargin,
    "q_hour_spine" ->
      """WITH iv AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
        |  epoch_us(CAST(ts AS TIMESTAMP)) + CAST(FLOOR("value") AS BIGINT) * 60000000 AS end_us
        |  FROM events),
        |mm AS (SELECT date_trunc('hour', make_timestamp(MIN(start_us))) AS h0,
        |              date_trunc('hour', make_timestamp(MAX(end_us))) AS h1 FROM iv)
        |SELECT CAST(f AS TIMESTAMP) AS frame_ts,
        |  CAST((epoch_us(CAST(f AS TIMESTAMP)) - epoch_us(h0)) / 3600000000 + 1 AS BIGINT) AS frame_n
        |FROM (SELECT h0, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS f FROM mm)
        |ORDER BY frame_ts""".stripMargin,
    "q_occupancy_hourly" ->
      """WITH iv AS (SELECT event_type, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + CAST(FLOOR("value") AS BIGINT) * 60000000 AS end_us
        |  FROM events),
        |hours AS (SELECT event_type, user_id,
        |    UNNEST(generate_series(
        |      make_timestamp(CAST(CEIL(start_us / 3600000000.0) * 3600000000 AS BIGINT)),
        |      make_timestamp(CAST(FLOOR(end_us / 3600000000.0) * 3600000000 AS BIGINT)),
        |      INTERVAL 1 HOUR)) AS frame_ts
        |  FROM iv WHERE end_us >= start_us)
        |SELECT CAST(frame_ts AS TIMESTAMP) AS frame_ts, event_type,
        |  COUNT(DISTINCT user_id) AS item_count
        |FROM hours GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_occupancy_approx" ->
      """WITH iv AS (SELECT event_type, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + CAST(FLOOR("value") AS BIGINT) * 60000000 AS end_us
        |  FROM events),
        |hours AS (SELECT event_type, user_id,
        |    UNNEST(generate_series(
        |      make_timestamp(CAST(CEIL(start_us / 3600000000.0) * 3600000000 AS BIGINT)),
        |      make_timestamp(CAST(FLOOR(end_us / 3600000000.0) * 3600000000 AS BIGINT)),
        |      INTERVAL 1 HOUR)) AS frame_ts
        |  FROM iv WHERE end_us >= start_us)
        |SELECT CAST(frame_ts AS TIMESTAMP) AS frame_ts, event_type,
        |  COUNT(DISTINCT user_id) AS item_count,
        |  TRUE AS within_rel_err
        |FROM hours GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_occupancy_daily" ->
      """WITH iv AS (SELECT event_type, user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS start_us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + CAST(FLOOR("value") AS BIGINT) * 60000000 AS end_us
        |  FROM events),
        |hours AS (SELECT event_type, user_id,
        |    UNNEST(generate_series(
        |      make_timestamp(CAST(CEIL(start_us / 3600000000.0) * 3600000000 AS BIGINT)),
        |      make_timestamp(CAST(FLOOR(end_us / 3600000000.0) * 3600000000 AS BIGINT)),
        |      INTERVAL 1 HOUR)) AS frame_ts
        |  FROM iv WHERE end_us >= start_us),
        |hourly AS (SELECT frame_ts, event_type, COUNT(DISTINCT user_id) AS item_count
        |  FROM hours GROUP BY 1, 2)
        |SELECT CAST(frame_ts AS DATE) AS bucket_day, event_type,
        |  MAX(item_count) AS occupancy_peak,
        |  ROUND(AVG(item_count), 4) AS occupancy_avg
        |FROM hourly GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_throughput_daily" ->
      """WITH iv AS (SELECT event_type,
        |    make_timestamp(epoch_us(CAST(ts AS TIMESTAMP))) AS start_ts,
        |    make_timestamp(epoch_us(CAST(ts AS TIMESTAMP)) + CAST(FLOOR("value") AS BIGINT) * 60000000) AS end_ts
        |  FROM events),
        |en AS (SELECT CAST(start_ts AS DATE) AS bucket_day, event_type, COUNT(*) AS entries
        |  FROM iv GROUP BY 1, 2),
        |ex AS (SELECT CAST(end_ts AS DATE) AS bucket_day, event_type, COUNT(*) AS exits
        |  FROM iv GROUP BY 1, 2)
        |SELECT COALESCE(en.bucket_day, ex.bucket_day) AS bucket_day,
        |  COALESCE(en.event_type, ex.event_type) AS event_type,
        |  COALESCE(en.entries, 0) AS entries,
        |  COALESCE(ex.exits, 0) AS exits,
        |  CAST(date_part('year', COALESCE(en.bucket_day, ex.bucket_day)) * 10000 +
        |       date_part('month', COALESCE(en.bucket_day, ex.bucket_day)) * 100 +
        |       date_part('day', COALESCE(en.bucket_day, ex.bucket_day)) AS INT) AS bucket_n
        |FROM en FULL OUTER JOIN ex
        |  ON en.bucket_day = ex.bucket_day AND en.event_type = ex.event_type
        |WHERE COALESCE(en.entries, 0) > 0 OR COALESCE(ex.exits, 0) > 0
        |ORDER BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, "value" AS v
        |  FROM events),
        |l AS (SELECT user_id, event_id, ts, v,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM e),
        |f AS (SELECT user_id, event_id, ts, v,
        |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM l),
        |s AS (SELECT user_id, ts, v,
        |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events, ROUND(SUM(v), 4) AS total_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN COALESCE(event_type <>
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id), TRUE)
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |r AS (SELECT user_id, ts, event_type,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM c),
        |v AS (SELECT user_id, CAST(run_id AS BIGINT) AS version,
        |    MIN(event_type) AS event_type, MIN(ts) AS effective_from,
        |    COUNT(*) AS n_obs
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, event_type, version, effective_from,
        |  lead(effective_from) OVER w AS effective_to, n_obs,
        |  (lead(effective_from) OVER w IS NULL) AS is_current
        |FROM v WINDOW w AS (PARTITION BY user_id ORDER BY version)
        |ORDER BY user_id, version""".stripMargin,
    "q_debounce" ->
      s"""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    event_type FROM events),
         |l AS (SELECT event_id, user_id, event_type,
         |    lag(event_type) OVER w AS prev_type,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT event_id, user_id, event_type FROM l
         |WHERE prev_type IS NULL OR prev_type <> event_type
         |  OR gap_us > ${DebounceUs}
         |ORDER BY event_id""".stripMargin,
    "q_interarrival" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type FROM events),
        |l AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  ROUND(AVG(gap_us) / 1000000.0, 4) AS avg_gap_s,
        |  ROUND(MAX(gap_us) / 1000000.0, 4) AS max_gap_s
        |FROM l WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_anomaly" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    COUNT(*) AS n FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, day, n,
        |    COUNT(n) OVER w AS base_n,
        |    CAST(SUM(n) OVER w AS BIGINT) AS base_sum
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n,
        |  ROUND((n - base_sum / CAST(7 AS DOUBLE))
        |    / (base_sum / CAST(7 AS DOUBLE)), 4) AS dev,
        |  ABS(ROUND((n - base_sum / CAST(7 AS DOUBLE))
        |    / (base_sum / CAST(7 AS DOUBLE)), 4)) > 0.25 AS is_anomaly
        |FROM t WHERE base_n = 7 ORDER BY event_type, day""".stripMargin,
    "q_scd2_lookup" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type FROM events),
        |c AS (SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN COALESCE(event_type <>
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id), TRUE)
        |      THEN 1 ELSE 0 END AS chg
        |  FROM e),
        |r AS (SELECT user_id, ts, event_type,
        |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM c),
        |v AS (SELECT user_id, CAST(run_id AS BIGINT) AS version,
        |    MIN(event_type) AS event_type, MIN(ts) AS effective_from,
        |    COUNT(*) AS n_obs
        |  FROM r GROUP BY 1, 2),
        |scd AS (SELECT user_id, event_type, version, effective_from,
        |    lead(effective_from) OVER w AS effective_to, n_obs,
        |    (lead(effective_from) OVER w IS NULL) AS is_current
        |  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY version)),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, s.version, s.event_type AS state,
        |  s.n_obs, s.is_current
        |FROM p LEFT JOIN scd s ON p.user_id = s.user_id
        |  AND p.ts >= s.effective_from
        |  AND (s.effective_to IS NULL OR p.ts < s.effective_to)
        |ORDER BY p.event_id""".stripMargin,
    "q_distinct_sketch" ->
      """SELECT CAST(ts AS DATE) AS bucket_day,
        |  COUNT(DISTINCT user_id) AS item_count, TRUE AS within_rel_err
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_theta_intersect" ->
      """WITH du AS (SELECT DISTINCT event_type,
        |    CAST(user_id AS VARCHAR) || '-' ||
        |      strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS ud
        |  FROM events),
        |c AS (SELECT event_type, COUNT(*) AS c FROM du GROUP BY 1),
        |i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    COUNT(*) AS n_inter
        |  FROM du x JOIN du y
        |    ON x.ud = y.ud AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, i.n_inter,
        |  ca.c + cb.c - i.n_inter AS n_union,
        |  TRUE AS inter_within_bound, TRUE AS union_within_bound
        |FROM i
        |JOIN c ca ON ca.event_type = i.type_a
        |JOIN c cb ON cb.event_type = i.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q_retention" ->
      """WITH a AS (SELECT DISTINCT user_id AS uid, CAST(ts AS DATE) AS day
        |  FROM events),
        |c AS (SELECT uid, MIN(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT cohort_day,
        |  CAST(datediff('day', cohort_day, day) AS BIGINT) AS day_offset,
        |  COUNT(DISTINCT a.uid) AS n_users
        |FROM a JOIN c USING (uid) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id AS uid, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type AS et FROM events),
        |s0 AS (SELECT uid, MIN(ts) AS t0 FROM e WHERE et = 'view' GROUP BY 1),
        |s1 AS (SELECT e.uid, MIN(e.ts) AS t1 FROM e
        |  JOIN s0 ON e.uid = s0.uid AND e.ts > s0.t0
        |  WHERE e.et = 'click' GROUP BY 1),
        |s2 AS (SELECT e.uid, MIN(e.ts) AS t2 FROM e
        |  JOIN s1 ON e.uid = s1.uid AND e.ts > s1.t1
        |  WHERE e.et = 'purchase' GROUP BY 1)
        |SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
        |  (SELECT COUNT(*) FROM s0) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s1)
        |UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s2)
        |ORDER BY step""".stripMargin)
}
