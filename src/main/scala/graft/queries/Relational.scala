package graft.queries

import graft.QueryModule
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator suite: hash aggregations, broadcast/shuffle joins,
  * semi/anti joins, full-outer key-union merges, windows, top-k, set ops,
  * last-wins dedup — the Spark-first re-expression of the reference's
  * hand-rolled array operators (SURVEY §2.4–§2.6):
  *
  *  - J1-J3 build-side hash maps            → broadcast hash joins
  *  - J4-J7 set-membership integrity checks → left_semi / left_anti
  *  - J9 key-set union merge                → full_outer + coalesce(0)
  *  - A1/A2 reduce-into-record counters     → groupBy().agg(...)
  *  - A11 Map.set last-wins dedup           → row_number over desc window
  *  - A12 Set distinct                      → distinct()
  *  - §2.6 sorts/limits                     → orderBy/limit
  *
  * Scale notes: dimension joins (part, customer, nation, supplier) are
  * explicitly `broadcast()` — at 100 TB the fact side never shuffles for
  * these. The groupBy aggregations rely on partial (map-side) aggregation
  * + AQE coalescing; no driver-side collect anywhere.
  */
object Relational extends QueryModule {

  /** TPC-H Q1-style full-scan aggregation with a pushed filter.
    * Reference analog: quality counters / issues-by-rule reductions
    * (src/normalize/quality/index.ts:29-45). */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_discount") > 0.01)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** COUNT(*) GROUP BY — A1 issues-by-rule analog. */
  def qCountByKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Multi-aggregate single pass — A2 quality-counter analog
    * (totals + conditional counts + boolean flag in one scan). */
  def qMultiAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
        max(when(col("event_type") === "error", 1L).otherwise(0L)).as("has_error"))
      .orderBy(col("user_id"))

  /** Fact ⟕ broadcast dim with fallback label — J1 semantics
    * (timeslices ⟕ workflowDefinitions with 'unknown' fallback,
    * derive/index.ts:104-141). Dim is filtered so misses exist. */
  def qJoinLeftFallback(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.lineitem(spark, dir)
    val dim = Tables.part(spark, dir).filter(col("p_size") > 25)
      .select(col("p_partkey"), col("p_brand"))
    li.join(broadcast(dim), li("l_partkey") === dim("p_partkey"), "left")
      .select(coalesce(col("p_brand"), lit("brand_unknown")).as("brand"),
              col("l_extendedprice"), col("l_discount"))
      .groupBy(col("brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n"))
      .orderBy(col("brand"))
  }

  /** Two aliased dimension joins from one fact — J2 semantics (from/to
    * stage joins): customer-nation × supplier-nation revenue matrix.
    *
    * Broadcast hints only on `nation` (genuinely fixed-size: 25 rows at
    * every sf). Orders/customer/supplier grow with the fact, so AQE picks
    * their join strategy from runtime stats — broadcast while they fit,
    * shuffle join at scale. Forcing broadcast here would OOM executors at
    * 100× data. */
  def qJoinDualDim(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c  = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s  = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n1 = Tables.nation(spark, dir).select(col("n_nationkey").as("cn_key"),
                                              col("n_name").as("cust_nation"))
    val n2 = Tables.nation(spark, dir).select(col("n_nationkey").as("sn_key"),
                                              col("n_name").as("supp_nation"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n1), c("c_nationkey") === n1("cn_key"))
      .join(broadcast(n2), s("s_nationkey") === n2("sn_key"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n"))
      .orderBy(col("cust_nation"), col("supp_nation"))
  }

  /** Anti join — J4-J7 membership checks / quality exclusion
    * (normalizeDatasets.ts:54-56). Customers with no 'F' order. */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Semi join (EXISTS) — the positive membership check. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Full-outer key-union merge with zero defaults — J9/A10 semantics
    * (dailyCounts ⟗ occupancyDaily, derive/index.ts:603-609). */
  def qFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("signups"))
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("errors"))
    signups.join(errors, Seq("day"), "full_outer")
      .select(col("day"),
              coalesce(col("signups"), lit(0L)).as("signups"),
              coalesce(col("errors"), lit(0L)).as("errors"))
      .orderBy(col("day"))
  }

  /** Deterministic top-k — §2.6 limits (error samples slice(0,10)). */
  def qTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** Window functions: ordinal + inter-event gap — frame_n ordinal
    * (derive/index.ts:438-448) + computeDurationSeconds clamp semantics
    * (timeslice.ts:219-229: max(0, round(ms/1000)), null when no prev). */
  def qWindowRownum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("gap_seconds",
        when(prev.isNull, lit(null).cast("long")).otherwise(
          greatest(lit(0L),
            round((unix_millis(col("ts")) - unix_millis(prev)) / lit(1000.0))
              .cast("long"))))
      .select(col("user_id"), col("event_id"), col("rn"), col("gap_seconds"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Running aggregates — §2.6 frame windows: per-customer running
    * revenue and a 3-row moving average over the order history.
    * Determinism contract: prices quantize to integer cents BEFORE the
    * window (a running float SUM accumulates in engine-specific order —
    * DuckDB's segment-tree windows vs Spark's sequential frames — so an
    * integer sum is the only bit-stable form); the single final /100.0
    * division is the same double op in both engines.
    * Scale: both frames share one (o_custkey) shuffle + sort; running
    * frames stream in O(1) memory per row — no whole-partition buffering. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = w.rowsBetween(-2, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .withColumn("running_total",
        round(sum(col("cents")).over(run) / lit(100.0), 2))
      // 4 decimals, not 2: a 2-row frame's avg of integer cents lands
      // EXACTLY on the .5 rounding boundary (engines disagree half-up vs
      // half-even there); at 4 decimals no n∈{1,2,3} denominator can
      // produce a boundary value, so the rounded double is bit-stable
      .withColumn("mov_avg3",
        round(avg(col("cents")).over(mov) / lit(100.0), 4))
      .select(col("o_custkey"), col("o_orderkey"),
        col("running_total"), col("mov_avg3"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Blocked fuzzy self-match over part names (operators.FuzzyJoin):
    * near-identical names within a (brand, size) block at edit
    * distance ≤ 2 — merge candidates for entity resolution. Block
    * sizes capped at 100 (guard against degenerate keys). */
  def qFuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.fuzzySelfPairs(
      Tables.part(spark, dir), "p_partkey", "p_name",
      Seq("p_brand", "p_size"), maxDist = 2, maxBlockSize = 100)
      .orderBy(col("id_a"), col("id_b"))

  /** Exact percentiles per group (linear interpolation — Spark's
    * `percentile` and DuckDB's `quantile_cont` share the definition).
    * At 100 TB swap for approx_percentile (t-digest) — the exact form
    * is the oracle-checkable baseline. */
  def qPercentile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(min(col("value")), 2).as("v_min"),
        round(max(col("value")), 2).as("v_max"))
      .orderBy(col("event_type"))

  /** Per-type winsorization (operators.Outliers): clip `value` into the
    * group's exact [p05, p95] envelope. Bounds rounded to 4 decimals
    * before clipping (the operator's gate mode) so the clamp compares
    * identical literals on both engines; outputs rounded like every
    * gated float. */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Outliers.winsorize(
      Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("value")),
      "event_type", "value", lo = 0.05, hi = 0.95, roundBounds = Some(4))
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"),
        round(col("value_w"), 4).as("value_w"),
        col("p_lo"), col("p_hi"))
      .orderBy(col("event_id"))

  /** Approximate percentiles (Greenwald-Khanna sketch) with the
    * bounded-error oracle pattern (cf. q_occupancy_approx): the query
    * emits the EXACT percentiles (oracle-checkable) plus booleans
    * asserting the sketch's RANK contract directly — approx_percentile
    * guarantees the returned value's rank r satisfies
    * ⌊(q−ε)·n⌋ ≤ r ≤ ⌈(q+ε)·n⌉ with ε = 1/accuracy, so the flag checks
    * that the value's true rank interval [count(< a)+1, count(≤ a)]
    * overlaps that window. Rank-space, not value-space: it cannot
    * spuriously flip on small or few-distinct-value groups the way a
    * value-window check against interpolated quantiles would. The
    * oracle recomputes the exact values and pins the flags TRUE,
    * putting the sketch's error contract itself in the gate. At 100 TB
    * the sketch is the only viable form (bounded memory, mergeable
    * partials); this query proves it stays within contract against the
    * exact baseline while the corpus still fits. The rank recount is a
    * second aggregation over the table with the 1-row-per-group sketch
    * results broadcast onto it — the gate's cost, not the operator's. */
  def qPercentileApprox(spark: SparkSession, dir: String): DataFrame = {
    val acc = 1000
    val eps = 1.0 / acc
    // drop nulls up front: percentile/approx_percentile both ignore
    // them, so n (the rank-window base) must too — a null-bearing group
    // would otherwise inflate the window position and flip the pinned
    // flags
    val ev = Tables.events(spark, dir).select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val agg = ev.groupBy(col("event_type")).agg(
      round(expr("percentile(value, 0.5)"), 4).as("p50"),
      round(expr("percentile(value, 0.95)"), 4).as("p95"),
      expr(s"approx_percentile(value, 0.5, $acc)").as("a50"),
      expr(s"approx_percentile(value, 0.95, $acc)").as("a95"))
    def within(q: Double, below: org.apache.spark.sql.Column,
               atMost: org.apache.spark.sql.Column,
               n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (below + 1 <= ceil((lit(q) + eps) * n)) &&
        (atMost >= floor((lit(q) - eps) * n))
    ev.join(broadcast(agg), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        max(col("p50")).as("p50"), max(col("p95")).as("p95"),
        count(lit(1)).as("n"),
        sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("b50"),
        sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("m50"),
        sum(when(col("value") < col("a95"), 1L).otherwise(0L)).as("b95"),
        sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("m95"))
      .select(col("event_type"), col("p50"), col("p95"),
        within(0.5, col("b50"), col("m50"), col("n")).as("p50_within"),
        within(0.95, col("b95"), col("m95"), col("n")).as("p95_within"))
      .orderBy(col("event_type"))
  }

  /** Persisted mergeable quantile sketches, end to end
    * ([[graft.operators.QuantileSketch]]): three ingest epochs are
    * sketched separately, persisted to disk, re-loaded, folded by
    * bucket-wise addition, and the merged counts answer p50/p95 per
    * event type — the incremental-percentile shape
    * q_percentile_approx cannot persist (GK state dies with its job).
    * The sketch is a pure function of the input multiset, so the
    * DuckDB oracle reproduces the ESTIMATES exactly (full hash gate —
    * stronger than the within-tolerance-flag pattern); the rank-error
    * bound the encoding guarantees is emitted per estimate and the
    * value-error contract (≤ 1/128 relative + grid step) is
    * spec-asserted against exact percentiles. */
  def qPercentileSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val root = graft.util.Scratch.dir("quantile_epochs")
    (0 until 3).foreach { i =>
      graft.operators.QuantileSketch.saveEpoch(
        graft.operators.QuantileSketch.sketch(
          ev.filter(pmod(col("event_id"), lit(3)) === i),
          "event_type", "value"),
        s"$root/epoch=$i")
    }
    val merged = graft.operators.QuantileSketch.mergeEpochs(
      (0 until 3).map(i =>
        graft.operators.QuantileSketch.loadEpoch(spark, s"$root/epoch=$i")))
    graft.operators.QuantileSketch.estimates(merged, Seq(50, 95))
      .withColumnRenamed("grp", "event_type")
      .orderBy(col("event_type"))
  }

  /** ROLLUP hierarchy totals — the OLAP subtotal/grand-total shape;
    * grouping-set nulls mark subtotal rows identically in both engines. */
  /** Exact equi-depth histogram WITHOUT a single-partition window: a
    * global NTILE needs a total order, and `Window.orderBy` with no
    * partition key funnels 100 TB through one task. The scalable exact
    * form is the classic two-pass distributed ranking:
    *
    *  1. range-repartition + sort by (value, tie) — Spark's scalable
    *     global sort;
    *  2. per-partition row counts → driver-side prefix offsets (one
    *     tiny row per partition);
    *  3. global rank = per-partition row_number + offset (the window
    *     is partitioned by partition id — fully parallel);
    *  4. bucket via the true NTILE assignment (integer arithmetic):
    *     with base = N div k and rem = N mod k, NTILE gives the first
    *     `rem` buckets base+1 rows and the rest base rows, so
    *       bucket = (rank−1) div (base+1) + 1           if rank ≤ (base+1)·rem
    *              = rem + (rank−1−(base+1)·rem) div base + 1   otherwise.
    *     (The naive ⌊(rank−1)·k/N⌋+1 floor formula spreads the
    *     remainder Bresenham-style and diverges from NTILE whenever
    *     N mod k ≠ 0.) Then one bucket-keyed aggregate.
    *
    * Output (bucket, n, v_min, v_max) — no computed floats, so the
    * DuckDB NTILE oracle hash-matches bit for bit. */
  def equiDepthHistogram(df: DataFrame, valueCol: String, tieCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .select(col(valueCol).as("v"), col(tieCol).as("tie"))
      .repartitionByRange(parts, col("v"), col("tie"))
      .sortWithinPartitions(col("v"), col("tie"))
      .withColumn("pid", spark_partition_id())
      .cache()
    val counts = sorted.groupBy(col("pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    val offDf = spark.createDataFrame(offsets.toIndexedSeq).toDF("pid", "off")
    val byPid = Window.partitionBy(col("pid")).orderBy(col("v"), col("tie"))
    // NTILE's front-loaded remainder: first rem buckets get base+1 rows.
    val base = n / k
    val rem = n % k
    val cut = (base + 1) * rem // ranks 1..cut land in the fat buckets
    val bucketExpr =
      if (base == 0L) expr("rank") // N < k: one row per bucket 1..N
      else expr(
        s"CASE WHEN rank <= $cut THEN (rank - 1) div ${base + 1} + 1" +
          s" ELSE $rem + (rank - 1 - $cut) div $base + 1 END")
    val out = sorted
      .join(broadcast(offDf), Seq("pid"))
      .withColumn("rank", row_number().over(byPid) + col("off"))
      .withColumn("bucket", bucketExpr.cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("v_min"),
        max(col("v")).as("v_max"))
    // materialize the ≤k-row result, then RELEASE the cached sort —
    // the cache exists only to share the sorted table between the
    // count collect above and this aggregate; leaving it pinned would
    // charge every library caller lingering executor memory per call
    val rows = out.collect()
    sorted.unpersist()
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Equi-depth 8-bucket histogram of event values. */
  def qHistogram(spark: SparkSession, dir: String): DataFrame =
    equiDepthHistogram(
      Tables.events(spark, dir).select(col("value"), col("event_id")),
      "value", "event_id", k = 8)
      .orderBy(col("bucket"))

  /** Wide-format pivot — one row per day, one count column per event
    * type. Pivot VALUES are declared explicitly: at 100 TB an implicit
    * pivot first runs a distinct scan over the key column to discover
    * the schema; declaring them keeps the plan one aggregation. Counts
    * are integers — hash-exact against the oracle's CASE aggregation. */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("bucket_day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .select(col("bucket_day") +:
        Seq("click", "error", "purchase", "signup", "view").map(t =>
          coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy(col("bucket_day"))

  /** The inverse — unpivot the wide table back to (day, event_type, n)
    * long form with Spark's native unpivot (no explode-of-struct
    * workaround). Round-trips qPivot's output modulo zero rows. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    qPivot(spark, dir)
      .unpivot(Array(col("bucket_day")),
        Seq("click", "error", "purchase", "signup", "view")
          .map(t => col(s"n_$t")).toArray,
        "event_type", "n")
      .withColumn("event_type",
        regexp_replace(col("event_type"), "^n_", ""))
      .filter(col("n") > 0)
      .orderBy(col("bucket_day"), col("event_type"))

  /** Per-group least-squares regression aggregates — value trend over
    * time per event type via Spark's regr_* (one pass, algebraic
    * partial aggregation; no window, no collect). Slope/intercept are
    * rounded on both engines (QueryModule convention). */
  def qRegression(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        regr_count(col("value"), unix_micros(col("ts")).cast("double"))
          .as("n"),
        round(regr_slope(col("value"),
          (unix_micros(col("ts")) / lit(86400000000.0))).cast("double"), 6)
          .as("slope_per_day"),
        round(regr_intercept(col("value"),
          (unix_micros(col("ts")) / lit(86400000000.0))).cast("double"), 4)
          .as("intercept"))
      .orderBy(col("event_type"))

  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Set operations — §2.6 intersection/difference diagnostics
    * (scripts/diagnose-stage-relations.ts:145-164). */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signup = ev.filter(col("event_type") === "signup").select(col("user_id")).distinct()
    val error  = ev.filter(col("event_type") === "error").select(col("user_id")).distinct()
    val exceptDf    = signup.except(error).withColumn("op", lit("except"))
    val intersectDf = signup.intersect(error).withColumn("op", lit("intersect"))
    exceptDf.unionByName(intersectDf)
      .select(col("op"), col("user_id"))
      .orderBy(col("op"), col("user_id"))
  }

  /** Last-wins dedup — A11 Map.set semantics (derive/index.ts:129):
    * keep each user's latest event (ts desc, event_id desc tiebreak). */
  def qDedupLastWin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .orderBy(col("user_id"))
  }

  /** Distinct projection — A12 Set-of-keys. */
  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(col("user_id")).distinct()
      .orderBy(col("user_id"))

  /** As-of join — for each 'purchase' event, the user's most recent
    * prior event of any type (operators.AsOf union+window formulation;
    * oracle is DuckDB's native ASOF JOIN). Self-as-of over the event
    * stream: the classic point-in-time feature lookup. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("k"), col("ts"))
    // right side = non-purchase events only, so a purchase never
    // self-matches (timestamps are ns-unique across the stream)
    val prior = ev.select(col("user_id").as("k"),
        col("ts").as("ts_r"), col("event_id").as("prior_id"),
        col("event_type").as("prior_type"))
      .filter(col("prior_type") =!= "purchase")
    graft.operators.AsOf.asofJoinLeft(purchases, prior, "k",
      "ts", "ts_r", Seq("prior_id", "prior_type"))
      .select(col("purchase_id"), col("k").as("user_id"),
        col("asof_prior_id").as("prior_id"), col("asof_prior_type").as("prior_type"))
      .orderBy(col("purchase_id"))
  }

  /** Forward direction: for each purchase, the NEXT non-purchase event —
    * pandas merge_asof direction='forward'; DuckDB native ASOF with the
    * inequality flipped. */
  def qAsofJoinFwd(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("k"), col("ts"))
    val post = ev.select(col("user_id").as("k"),
        col("ts").as("ts_r"), col("event_id").as("next_id"),
        col("event_type").as("next_type"))
      .filter(col("next_type") =!= "purchase")
    graft.operators.AsOf.asofJoinLeft(purchases, post, "k",
      "ts", "ts_r", Seq("next_id", "next_type"), direction = "forward")
      .select(col("purchase_id"), col("k").as("user_id"),
        col("asof_next_id").as("next_id"), col("asof_next_type").as("next_type"))
      .orderBy(col("purchase_id"))
  }

  /** Adopt a plain parquet directory into a manifest table at `root`
    * ([[graft.sinks.ManifestTable.adopt]] — per-file footer stats over
    * `statsCols`, by reference) and register it, so plain reads of the
    * directory prune at planning time. The layouts below re-land under
    * fresh file names per invocation; each adopt drops the dead
    * entries and describes the new files in one commit. */
  private def adoptAndRegister(spark: SparkSession, lay: String, root: String,
                               statsCols: Seq[String]): Unit = {
    graft.sinks.ManifestTable.adopt(spark, lay, root, statsCols): Unit
    graft.plans.GraftTables.register(lay, root)
  }

  /** Data-skipping scan through file-level stats: events are laid out
    * range-partitioned by day (the [[graft.sinks.ParquetSink]]
    * layout-writer shape), the directory is adopted (per-file min/max
    * from parquet footers), and a 4-of-30-day range query reads ONLY
    * the files whose envelope intersects the range — at 100 TB the
    * open-file count, not just the row filter, is what drops. Pruning
    * is sound (a file is dropped only when every row provably misses),
    * so the oracle is the plain row filter over the raw table;
    * OperatorsSpec asserts the skip actually happens. */
  def qPrunedScan(spark: SparkSession, dir: String): DataFrame = {
    val lay = graft.util.Scratch.dir("pruned_scan")
    Tables.events(spark, dir)
      .withColumn("d", to_date(col("ts")))
      .repartitionByRange(8, col("d"))
      .write.mode("overwrite").parquet(lay)
    adoptAndRegister(spark, lay, graft.util.Scratch.dir("pruned_scan_meta"),
      Seq("d"))
    spark.read.parquet(lay)
      .filter(col("d").between(
        lit(java.sql.Date.valueOf("2024-01-10")),
        lit(java.sql.Date.valueOf("2024-01-13"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** PLANNER-integrated data skipping (plans.StatsPruneRule): same
    * layout as [[qPrunedScan]], a later window. The query itself is a
    * PLAIN `spark.read.parquet(dir).filter(...)`; the adopt + register
    * is the table's metadata registration (the Delta/Iceberg
    * ergonomics), and the injected optimizer rule consults the
    * adopted manifest at planning time and swaps in a pruned file
    * index. The oracle is the plain row filter — pruning must be
    * invisible in results; PlanSpec asserts the file skip actually
    * happens. */
  def qPlannerPruned(spark: SparkSession, dir: String): DataFrame = {
    val lay = graft.util.Scratch.dir("planner_pruned")
    Tables.events(spark, dir)
      .withColumn("d", to_date(col("ts")))
      .repartitionByRange(8, col("d"))
      .write.mode("overwrite").parquet(lay)
    adoptAndRegister(spark, lay, graft.util.Scratch.dir("planner_pruned_meta"),
      Seq("d"))
    spark.read.parquet(lay)
      .filter(col("d").between(
        lit(java.sql.Date.valueOf("2024-01-20")),
        lit(java.sql.Date.valueOf("2024-01-24"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Planner-integrated pruning over an N-COLUMN Hilbert-clustered
    * layout ([[graft.sinks.ParquetSink.writeZOrdered]]): the layout
    * writer bounds every file's envelope on ALL THREE clustering
    * columns, so a 3-D box predicate through the adopted manifest
    * prunes files on each conjunct at once — the end-to-end
    * composition of the curve layout, footerable per-file stats, and
    * the optimizer rule, with a plain `spark.read.parquet(...).filter`
    * as the whole user surface. Oracle: the identical row filter in
    * SQL (pruning must never change results — only skip files the
    * stats PROVE unmatching). PlanSpec asserts the scan opens fewer
    * files than the directory holds on every one of the three
    * single-conjunct probes. */
  def qPlannerPrunedHilbert(spark: SparkSession, dir: String): DataFrame = {
    val lay = graft.util.Scratch.dir("planner_hilbert")
    val ev = Tables.events(spark, dir)
      .withColumn("t", unix_micros(col("ts")))
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .select("event_id", "event_type", "user_id", "t", "cents", "value")
    graft.sinks.ParquetSink.writeZOrdered(
      ev, lay, Seq("t", "user_id", "cents"), numFiles = 24, bits = 0)
    adoptAndRegister(spark, lay, graft.util.Scratch.dir("planner_hilbert_meta"),
      Seq("t", "user_id", "cents"))
    // the box must be non-empty at EVERY sf: the feed starts 2024-01-01
    // at all scales, and user ids start at 0 (sf0.001 has only 0..14),
    // so t anchors at the feed's start and user_id is an edge probe
    def us(d: String): Long = java.time.LocalDate.parse(d).atStartOfDay
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    spark.read.parquet(lay)
      .filter(col("t").between(us("2024-01-01"), us("2024-01-02")) &&
        col("user_id") <= 10 && col("cents").between(100, 20000))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** Rolling TIME-RANGE window — the frame ROWS can't express: per
    * user, the sum of `value` and event count over the trailing hour
    * of EVENT TIME (inclusive both ends, so simultaneous events share
    * a frame). Spark's rangeBetween runs on the unix-microsecond
    * ordering column; DuckDB's on `RANGE INTERVAL 1 HOUR PRECEDING` —
    * same frame by construction. Sums use the integer-cents trick
    * ([[qWindowRunning]]) so float addition order can't split engines.
    * One shuffle on user_id, sorted once, both windows share it. */
  def qRollingWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(spark, dir)
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .withColumn("rolling_sum",
        round(sum(col("cents")).over(w) / lit(100.0), 2))
      .withColumn("rolling_n", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"),
        col("rolling_sum"), col("rolling_n"))
      .orderBy(col("event_id"))
  }

  /** Probe keys for the bloom point-lookup gate — scattered across the
    * hash layout so several files hold one and the rest prove absence. */
  val BloomLookupKeys = Seq(7L, 123L, 321L, 444L)

  /** Bloom-indexed point lookup (sources.FileBloomIndex): the corpus is
    * laid out hash-partitioned on doc_id (the layout where min/max
    * envelopes prune NOTHING — every file spans the id range), the
    * directory is adopted and per-file Bloom bits built into its
    * manifest entries ([[graft.sinks.ManifestTable.buildBloom]] — only
    * the files that lack them), and a plain IN probe opens only files
    * whose bloom admits a key. The oracle is the plain row filter — pruning
    * must be invisible in results. */
  def qBloomLookup(spark: SparkSession, dir: String): DataFrame = {
    val lay = graft.util.Scratch.dir("bloom_lookup")
    Tables.documents(spark, dir)
      .repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(lay)
    val root = graft.util.Scratch.dir("bloom_lookup_meta")
    adoptAndRegister(spark, lay, root, Seq("doc_id"))
    graft.sinks.ManifestTable.buildBloom(spark, root, "doc_id"): Unit
    spark.read.parquet(lay)
      .filter(col("doc_id").isin(BloomLookupKeys: _*))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** PSI drift grid: fixed equi-width cent buckets spanning the
    * reference epoch's observed range (the reference defines the grid —
    * the PSI contract). */
  val PsiLo = 0L
  val PsiHi = 49999L
  val PsiBuckets = 20

  /** Exact two-sample KS drift (operators.Drift) between the 'view' and
    * 'purchase' value distributions — integer cross-product arithmetic,
    * one final division, bit-reproducible. */
  def qDriftKs(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
    graft.operators.Drift.ks(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"), "cents")
  }

  /** Temporal drift split point: first half of the 30-day window is the
    * reference period, the rest is the period under test. */
  val DriftCutoff = "2024-01-16"

  /** Per-SEGMENT temporal drift (Drift.ksByGroup): each event_type's
    * value distribution, first half-month vs the rest — every window
    * partitioned by the segment, so the walk shards across groups. */
  def qDriftKsGroup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
    val cut = to_date(lit(DriftCutoff))
    graft.operators.Drift.ksByGroup(
      ev.filter(to_date(col("ts")) < cut),
      ev.filter(to_date(col("ts")) >= cut),
      "event_type", "cents")
      .orderBy(col("grp"))
  }

  /** Per-bucket PSI drift terms (operators.Drift) on the same split:
    * the additive decomposition shows WHERE the distributions diverge,
    * Σ terms = the headline PSI score. */
  def qDriftPsi(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
    graft.operators.Drift.psi(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "purchase"), "cents",
      PsiLo, PsiHi, PsiBuckets)
      .orderBy(col("bucket"))
  }

  /** One-pass table profile (operators.Profiler) over four mixed-type
    * event columns, exact-distinct mode so every cell is
    * oracle-checkable (production default is the HLL mode). */
  def qProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiler.profile(
      Tables.events(spark, dir),
      Seq("event_id", "user_id", "event_type", "value"),
      exactDistinct = true)
      .withColumn("min_num", round(col("min_num"), 4))
      .withColumn("max_num", round(col("max_num"), 4))
      .orderBy(col("column"))

  /** Exact per-group top-k rows via the TopKBy partial aggregate
    * (functions.TopKBy): at most 2k (score, id) pairs per group per
    * partition live anywhere — map-side combine, then a |groups|·k-row
    * shuffle — where the ROW_NUMBER formulation (the oracle) shuffles
    * and sorts EVERY row of every group. The 100 TB "top 5 per domain"
    * shape. */
  def qGroupTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorExpressions
        .topkBy(col("value"), col("event_id"), 5).as("tk"))
      .select(col("event_type"), posexplode(col("tk")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("event_id"), round(col("col.score"), 4).as("value"))
      .orderBy(col("event_type"), col("rank"))
  }

  /** Incrementally-maintained aggregate view (operators.IncrementalAgg):
    * state built from 3/4 of the fact rows, then one delta batch folds
    * in the remaining inserts AND retracts every 16th row — update cost
    * ∝ |delta|+|keys|, never a history re-scan. The gate compares the
    * folded view against a from-scratch GROUP BY over the post-delta
    * fact set (integer-cents sums, cf. q_rolling_window). */
  def qIncrAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val ev = Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
    val keys = Seq("event_type", "day")
    // extrema tracked through the bounded value histogram: per
    // (type, day) key the distinct cent values are bounded by the
    // day's row count — 8192 is honest headroom at the bench scale
    val state0 = IncrementalAgg.build(
      ev.filter(col("event_id") % 4 =!= 3), keys, col("cents"),
      extremaSupport = 8192)
    val delta = ev.filter(col("event_id") % 4 === 3)
      .withColumn("op", lit("I"))
      .unionByName(ev.filter(col("event_id") % 16 === 0)
        .withColumn("op", lit("D")))
    IncrementalAgg.applyDelta(state0, delta, keys, col("cents"), col("op"),
        extremaSupport = 8192)
      .select(col("event_type"), col("day"), col("n"),
        round(col("val_sum") / lit(100.0), 2).as("total_value"),
        round(col("v_min") / lit(100.0), 2).as("min_value"),
        round(col("v_max") / lit(100.0), 2).as("max_value"))
      .orderBy(col("event_type"), col("day"))
  }

  /** CUBE with grouping_id — all four aggregation granularities of
    * (event_type, day) in one pass plus the bitmask telling them
    * apart; the multi-granularity rollup a reporting layer asks of a
    * 100 TB fact table, map-side-combined like any groupBy. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .cube(col("event_type"), col("day"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first,
        col("day").asc_nulls_first)

  /** Declarative expectation suite over lineitem
    * ([[graft.operators.Expectations]]): four named checks, violation
    * counts in ONE aggregation pass (no per-rule scans). NULL checks
    * count as violations — holds only when provably true. */
  def qExpectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations, Expectations.Expectation
    Expectations.report(Tables.lineitem(spark, dir), Seq(
        Expectation("discount_range",
          col("l_discount").between(0.0, 0.1)),
        Expectation("positive_price", col("l_extendedprice") > 0),
        Expectation("qty_range", col("l_quantity").between(1, 50)),
        Expectation("tax_capped", col("l_tax") <= col("l_discount") + 0.06)))
      .orderBy(col("rule"))
  }

  /** Metadata-only table aggregates ([[graft.sources.FileStats
    * .tableSummary]]): COUNT(*)/MIN/MAX/null-count answered from the
    * adopted directory's |files|-row manifest with ZERO data I/O — the
    * Iceberg/Delta manifest-count ergonomics. The oracle computes the
    * same aggregates the expensive way (a full scan), pinning
    * exactness of the metadata path. */
  def qMetaSummary(spark: SparkSession, dir: String): DataFrame = {
    val lay = graft.util.Scratch.dir("meta_summary")
    Tables.lineitem(spark, dir).repartition(8)
      .write.mode("overwrite").parquet(lay)
    val root = graft.util.Scratch.dir("meta_summary_meta")
    val cols = Seq("l_orderkey", "l_quantity")
    graft.sinks.ManifestTable.adopt(spark, lay, root, cols): Unit
    graft.sources.FileStats.tableSummary(graft.sinks.ManifestTable.manifest(
      spark, root, graft.sinks.ManifestTable.latestVersion(spark, root)), cols)
  }

  /** PLANNER-integrated metadata aggregates (plans.MetaAggRule): the
    * query is a plain `spark.read.parquet(dir).agg(count/min/max)` —
    * no tableSummary opt-in — and the injected rule collapses it to
    * the adopted manifest's answer at optimization time (zero data
    * I/O; PlanSpec asserts the scan is gone). The oracle computes the
    * same aggregates the expensive way; the rewrite fires only on
    * proof that the manifest covers the scan's exact live file set. */
  def qMetaCount(spark: SparkSession, dir: String): DataFrame = {
    val lay = graft.util.Scratch.dir("meta_count")
    Tables.lineitem(spark, dir).repartition(8)
      .write.mode("overwrite").parquet(lay)
    adoptAndRegister(spark, lay, graft.util.Scratch.dir("meta_count_meta"),
      Seq("l_orderkey", "l_quantity"))
    spark.read.parquet(lay).agg(
      count(lit(1)).as("n_rows"),
      count(col("l_quantity")).as("n_qty"),
      min(col("l_orderkey")).as("k_min"),
      max(col("l_orderkey")).as("k_max"),
      min(col("l_quantity")).as("q_min"),
      max(col("l_quantity")).as("q_max"))
  }

  /** The DataSourceV2 table format ([[graft.sources.v2
    * .GraftTableProvider]]): a manifest table created over a doc_id
    * range layout, a row-level DELETE folded in
    * ([[graft.sinks.ManifestTable.deleteWhere]]), old versions
    * vacuumed, then read back with `spark.read.format("graft")` — the
    * scan resolves the current version's snapshot (no session
    * extension, no registration). Oracle: the delete + filter replayed
    * in SQL — version resolution must be invisible in results. */
  def qGraftScan(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_dsv2") + "/docs"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir).repartitionByRange(4, col("doc_id")),
      root, Seq("doc_id")): Unit
    graft.sinks.ManifestTable.deleteWhere(spark, root,
      col("lang") === lit("en"))
    graft.sinks.ManifestTable.vacuum(spark, root, keep = 2)
    spark.read.format("graft").load(root)
      .filter(col("doc_id") < 200)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy(col("lang"))
  }

  /** RUNTIME FILE FILTERING end-to-end ([[graft.sources.v2
    * .GraftRuntimeFilterScanBuilder]]): the dim side's surviving keys
    * exist only after it executes, so static planning cannot skip any
    * fact file — the dynamic-pruning planner hands the broadcast keys
    * to the runtime-filterable scan, which keeps only the files whose
    * manifest envelopes can hold them. The oracle is the plain
    * relational join (pruning must never change an answer); the
    * file-count proof lives in PlanSpec. */
  def qDppJoin(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_dpp") + "/t"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    val dim = Tables.documents(spark, dir)
      .filter(col("doc_id") % 25 === 0 && col("doc_id") < 100)
      .select(col("doc_id"), col("lang").as("dim_lang"))
    spark.read.format("graft").load(root)
      .join(broadcast(dim), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("dim_lang"))
      .orderBy(col("doc_id"))
  }

  /** The durable SQL surface end-to-end ([[graft.sources.v2
    * .GraftCatalog]]): a manifest table is adopted BY NAME
    * (`CREATE TABLE … USING graft LOCATION …`) and queried through
    * plain `spark.sql` with a range filter — resolution, snapshot
    * pinning, and manifest-envelope file pruning all run inside the
    * catalog path, no reader options, no per-JVM registration. The
    * oracle is the same aggregate over the raw table. */
  def qGraftSql(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_cat_docs") + "/t"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      graft.util.Scratch.dir("graft_warehouse"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    spark.sql("DROP TABLE IF EXISTS graft.gate.docs")
    spark.sql(s"CREATE TABLE graft.gate.docs USING graft LOCATION '$root'")
    spark.sql("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM graft.gate.docs WHERE doc_id < 500
      GROUP BY lang ORDER BY lang""")
  }

  /** Shared catalog bootstrap for the SQL gates: the "graft" catalog
    * over a stable scratch warehouse (the session caches the catalog
    * INSTANCE on first use, so every gate sets the same conf values
    * and they either take effect or were already identical). */
  private def ensureGateCatalog(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      graft.util.Scratch.dir("graft_warehouse"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate"): Unit
  }

  /** SQL `MERGE INTO` end-to-end through the catalog + the row-level
    * command rule ([[graft.plans.GraftRowLevelSqlRule]]): the upsert
    * statement delegates to [[graft.sinks.ManifestTable.merge]] — the
    * same file-granular fold q_merge_upsert gates through the Scala
    * API, so the two oracles share their MERGE algebra (without the
    * delete step). The batch exercises BOTH arms: ids ≡ 2 mod 5
    * update in place, the ids ≡ 7 mod 10 among them are absent from
    * the seed and insert. */
  def qMergeSql(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_merge") + "/t"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 10 =!= 7)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.msql")
    spark.sql(s"CREATE TABLE graft.gate.msql USING graft LOCATION '$root'")
    d.filter(col("doc_id") % 5 === 2)
      .withColumn("text", concat(lit("UPDATED: "), col("text")))
      .createOrReplaceTempView("gate_merge_src")
    spark.sql("""MERGE INTO graft.gate.msql AS t USING gate_merge_src AS s
      ON t.doc_id = s.doc_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("""SELECT doc_id, lang,
      CAST(length(text) AS BIGINT) AS text_len,
      substring(text, 1, 12) AS head
      FROM graft.gate.msql ORDER BY doc_id""")
  }

  /** The FULL MERGE clause surface in one statement — conditional
    * matched DELETE + matched UPDATE reading both sides, conditional
    * INSERT, and both NOT MATCHED BY SOURCE arms (in-order
    * semantics) — compiled to one keyed CDC batch by
    * [[graft.plans.GraftMergeFullCommand]] and applied through the
    * engine's touched-file commit. The oracle reconstructs the row
    * classes relationally. */
  def qMergeSqlFull(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_merge_full") + "/t"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 10 =!= 7)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.msqlf")
    spark.sql(s"CREATE TABLE graft.gate.msqlf USING graft LOCATION '$root'")
    d.filter(col("doc_id") % 5 === 2)
      .withColumn("n_chars", col("n_chars") + 10000L)
      .createOrReplaceTempView("gate_mergef_src")
    spark.sql("""MERGE INTO graft.gate.msqlf AS t USING gate_mergef_src AS s
      ON t.doc_id = s.doc_id
      WHEN MATCHED AND t.n_chars < 300 THEN DELETE
      WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + t.n_chars
      WHEN NOT MATCHED AND s.lang = 'en' THEN
        INSERT (doc_id, lang, n_chars) VALUES (s.doc_id, s.lang, s.n_chars)
      WHEN NOT MATCHED BY SOURCE AND t.doc_id % 9 = 0 THEN
        UPDATE SET lang = concat(t.lang, '!')
      WHEN NOT MATCHED BY SOURCE AND t.doc_id % 9 = 4 THEN DELETE""")
    spark.sql("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      FROM graft.gate.msqlf ORDER BY doc_id""")
  }

  /** STORAGE-PARTITIONED JOIN end-to-end: two manifest tables created
    * `bucketBy (doc_id, 8)` equi-join through the catalog with DSv2
    * bucketing enabled — the scans report `KeyGroupedPartitioning`
    * (one input partition per hash bucket, [[graft.sources.v2
    * .GraftBucketedScan]]) and the join runs with NO shuffle on
    * either side (plan-asserted in CatalogSpec; this gate pins the
    * VALUES against a plain-join oracle, so the bucket routing,
    * per-bucket grouping, and partition-key alignment can never
    * silently drop or duplicate rows). */
  def qBucketJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.freshDir("graft_spj")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d, s"$base/a", Seq("doc_id"), bucketBy = Some(("doc_id", 8)))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") * 2).as("x")),
      s"$base/b", Seq("doc_id"), bucketBy = Some(("doc_id", 8)))
    ensureGateCatalog(spark)
    // deliberately NOT restored: the returned frame plans lazily (the
    // driver collects it after this function returns), so restoring
    // would silently flip the gate back to a shuffled join. The confs
    // only affect scans that REPORT a partitioning — bucketed graft
    // tables, which only this gate creates — so no other gate's plan
    // can change.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.v2.bucketing.pushPartValues.enabled", "true")
    spark.sql("DROP TABLE IF EXISTS graft.gate.spja")
    spark.sql("DROP TABLE IF EXISTS graft.gate.spjb")
    spark.sql(s"CREATE TABLE graft.gate.spja USING graft LOCATION '$base/a'")
    spark.sql(s"CREATE TABLE graft.gate.spjb USING graft LOCATION '$base/b'")
    spark.sql("""SELECT a.doc_id AS doc_id, a.lang AS lang,
        CAST(b.x AS BIGINT) AS x
      FROM graft.gate.spja a JOIN graft.gate.spjb b ON a.doc_id = b.doc_id
      ORDER BY doc_id""")
  }

  /** `ALTER TABLE RENAME COLUMN` end-to-end: metadata-only name
    * mapping ([[graft.sinks.ManifestTable.renameColumn]]) — the
    * renamed column keeps serving reads, keyed merges, and
    * post-rename appends, with zero data rewrites; the oracle
    * reconstructs the same content under the new name. */
  def qRenameSql(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_rename") + "/t"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.rnsql")
    spark.sql(s"CREATE TABLE graft.gate.rnsql USING graft LOCATION '$root'")
    spark.sql("ALTER TABLE graft.gate.rnsql RENAME COLUMN n_chars TO chars")
    // the renamed column keeps working through the keyed engine: a
    // merge by doc_id updating `chars`, then a filtered read on it
    d.filter(col("doc_id") % 11 === 3)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") + 100000L).as("chars"))
      .createOrReplaceTempView("gate_rename_src")
    spark.sql("""MERGE INTO graft.gate.rnsql AS t USING gate_rename_src AS s
      ON t.doc_id = s.doc_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("""SELECT doc_id, lang, CAST(chars AS BIGINT) AS chars
      FROM graft.gate.rnsql WHERE chars >= 200 ORDER BY doc_id""")
  }

  /** SQL `UPDATE` with expression assignments over the pre-update row
    * and a WHERE — delegated to [[graft.sinks.ManifestTable
    * .updateWhere]] (file-granular where the predicate has a range
    * shape; this modular one honestly rewrites, the semantics are the
    * gate). */
  def qUpdateSql(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_update") + "/t"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.usql")
    spark.sql(s"CREATE TABLE graft.gate.usql USING graft LOCATION '$root'")
    spark.sql("""UPDATE graft.gate.usql
      SET n_chars = n_chars + 1000, lang = concat(lang, '+')
      WHERE doc_id % 7 = 3""")
    spark.sql("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      FROM graft.gate.usql ORDER BY doc_id""")
  }

  /** SQL `DELETE` — [[graft.sinks.ManifestTable.deleteWhere]] through
    * the statement surface; disjunctive predicate, SQL NULL-keeps
    * semantics. */
  def qDeleteSql(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_delete") + "/t"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.dsql")
    spark.sql(s"CREATE TABLE graft.gate.dsql USING graft LOCATION '$root'")
    spark.sql(
      "DELETE FROM graft.gate.dsql WHERE doc_id % 3 = 0 OR lang = 'en'")
    spark.sql("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
      FROM graft.gate.dsql ORDER BY doc_id""")
  }

  /** METADATA-ONLY DELETE end-to-end: on a range-clustered manifest
    * table, a retention-shaped `deleteWhere` drops every provably
    * all-matching file from the manifest BY REFERENCE
    * ([[graft.plans.StatsPruneRule.wholeFileMatched]] — zero data
    * I/O; only the boundary file rewrites), then a MERGE-ON-READ
    * range delete whose aligned span likewise drops whole files with
    * no vector sidecars. The oracle replays both deletes
    * relationally — hash-identical rows prove the drop grain changes
    * COST, never answers. */
  def qDeleteFiledrop(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_filedrop") + "/t"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    // lower retention cut: whole files below 150 drop by reference
    graft.sinks.ManifestTable.deleteWhere(spark, root,
      col("doc_id") <= lit(150L))
    // upper MoR cut: aligned files drop, the straddler gets a vector
    graft.sinks.ManifestTable.deleteWhereMor(spark, root,
      col("doc_id") > lit(400L))
    graft.sinks.ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** CHECK constraints end-to-end: declare table invariants (a range
    * CHECK and an explicit NOT NULL), then land the corpus in two
    * halves THROUGH the enforcement seam — every commit validates its
    * freshly landed files before the CAS ([[graft.sinks.ManifestTable
    * .addConstraint]]); the oracle is the plain union, proving
    * enforcement costs a batch read and changes no answers. */
  def qConstraint(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_constraint") + "/t"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 2 === 0L), root, Seq("doc_id"))
    graft.sinks.ManifestTable.addConstraint(spark, root,
      "chars_nonneg", "n_chars >= 0")
    graft.sinks.ManifestTable.addConstraint(spark, root,
      "lang_notnull", "lang IS NOT NULL")
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 2 === 1L), root)
    graft.sinks.ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** SQL additive schema evolution end-to-end: `ALTER TABLE ADD
    * COLUMN` widens the schema with zero data rewrites, pre-existing
    * rows read NULL for the evolved column, and post-evolution
    * inserts carry it — the oracle reconstructs exactly that union. */
  def qEvolveSql(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_evolve") + "/t"
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 4 =!= 3)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.esql")
    spark.sql(s"CREATE TABLE graft.gate.esql USING graft LOCATION '$root'")
    spark.sql("ALTER TABLE graft.gate.esql ADD COLUMN note STRING")
    d.filter(col("doc_id") % 4 === 3)
      .withColumn("note", concat(lit("n-"), col("lang")))
      .createOrReplaceTempView("gate_evolve_src")
    spark.sql(
      "INSERT INTO graft.gate.esql SELECT doc_id, lang, note " +
        "FROM gate_evolve_src")
    spark.sql("""SELECT doc_id, lang, note
      FROM graft.gate.esql ORDER BY doc_id""")
  }

  /** TYPE WIDENING end-to-end in SQL: `ALTER COLUMN n_chars TYPE
    * BIGINT` on an int-typed column is metadata-only — old files keep
    * int32 pages (the vectorized reader upcasts per file), the
    * post-widen insert carries values past the int range, the stat
    * envelopes cast with the commit so the filter still prunes, and
    * the mixed-page read hash-matches a plain relational oracle. */
  def qWidenSql(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_widen") + "/t"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("int").as("n_chars"))
        .filter(col("doc_id") % 4 =!= 3)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id", "n_chars"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.wsql")
    spark.sql(s"CREATE TABLE graft.gate.wsql USING graft LOCATION '$root'")
    spark.sql("ALTER TABLE graft.gate.wsql ALTER COLUMN n_chars TYPE BIGINT")
    spark.sql(
      "INSERT INTO graft.gate.wsql SELECT doc_id, lang, " +
        "CAST(n_chars AS BIGINT) + 5000000000 FROM " +
        s"parquet.`$dir/documents.parquet` WHERE doc_id % 4 = 3")
    spark.sql("""SELECT doc_id, lang, n_chars
      FROM graft.gate.wsql WHERE n_chars > 500
      ORDER BY doc_id""")
  }

  /** NESTED schema evolution end-to-end in SQL: struct members
    * rename and widen through the same frozen-physical-name
    * machinery as top-level columns (`graft.physical` in the member's
    * own field metadata) — `RENAME COLUMN s.a` is metadata-only (old
    * files read through the mapped scan's recursive translation),
    * `ADD COLUMN s.note` reads NULL for every pre-evolution row, and
    * the post-evolution insert lands its struct under the frozen
    * physical names. The final projection flattens, so the oracle is
    * plain relational SQL over the base table. */
  def qEvolveNested(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_evnest") + "/t"
    val d = Tables.documents(spark, dir).select(col("doc_id"),
      struct(col("lang").as("a"), col("n_chars").as("n")).as("s"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 4 =!= 3)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.ensql")
    spark.sql(s"CREATE TABLE graft.gate.ensql USING graft LOCATION '$root'")
    spark.sql("ALTER TABLE graft.gate.ensql RENAME COLUMN s.a TO lang2")
    spark.sql("ALTER TABLE graft.gate.ensql ADD COLUMN s.note STRING")
    Tables.documents(spark, dir).filter(col("doc_id") % 4 === 3)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("gate_evnest_src")
    spark.sql(
      "INSERT INTO graft.gate.ensql SELECT doc_id, " +
        "named_struct('lang2', lang, 'n', n_chars, " +
        "'note', 'n-' || lang) FROM gate_evnest_src")
    spark.sql("""SELECT doc_id, s.lang2 AS lang,
      CAST(s.n AS BIGINT) AS n_chars, s.note AS note
      FROM graft.gate.ensql WHERE s.lang2 <> 'zz'
      ORDER BY doc_id""")
  }

  /** WRITE-SIDE SCHEMA AUTO-MERGE end-to-end, all three surfaces in
    * one gate: the table starts (doc_id, lang); `MERGE WITH SCHEMA
    * EVOLUTION` (the ANSI statement — the table's
    * AUTOMATIC_SCHEMA_EVOLUTION capability routes the source's new
    * n_chars column through catalog.alterTable before the merge
    * compiles) both updates matched rows and brings the column in;
    * then a `writeMergeSchema` API append adds a second new column
    * while DROPPING lang from its batch — the absent column fills
    * NULL and the schema's nullability relaxes in the same
    * evolution. Every evolution is metadata-only; the oracle
    * reconstructs all four row classes relationally. */
  def qAutoMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_automerge") + "/t"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"))
        .filter(col("doc_id") % 4 =!= 3)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    ensureGateCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft.gate.amsql")
    spark.sql(s"CREATE TABLE graft.gate.amsql USING graft LOCATION '$root'")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .filter(col("doc_id") % 3 === 0)
      .createOrReplaceTempView("gate_automerge_src")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.gate.amsql t
      USING gate_automerge_src s ON t.doc_id = s.doc_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    graft.sinks.ManifestTable.writeMergeSchema(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars"),
          (col("n_chars") * 2).as("score"))
        .filter(col("doc_id") % 4 === 3 && col("doc_id") % 3 =!= 0),
      root)
    spark.sql("""SELECT doc_id, lang, n_chars, score
      FROM graft.gate.amsql ORDER BY doc_id""")
  }

  /** TOP-N PUSHDOWN end-to-end: an `ORDER BY doc_id LIMIT 500` over a
    * range-clustered manifest table — the scan's envelope-ordered
    * file pruning ([[graft.sources.v2.GraftManifestFileIndex]]) plans
    * only the leading files, and the unique key makes the statement
    * deterministic, so the slice itself is oracle-gatable. A second
    * DESC top over the same table rides the same read. */
  def qTopN(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_sql_topn") + "/t"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    val t = spark.read.format("graft").load(root)
    t.orderBy(col("doc_id")).limit(500)
      .unionAll(t.orderBy(col("doc_id").desc).limit(500))
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** The DECLARATIVE STREAMING PIPE, oracle-gated: change-feed SOURCE
    * (`readStream.format("graft")` with keyCols) piped straight into
    * the native graft SINK (`writeStream.format("graft")`) with zero
    * user code between — the medallion hop as two format strings. The
    * bootstrap arrives as `op = 'I'`, `seq = 0` rows served from the
    * snapshot's own files and commits exactly-once into the
    * downstream manifest table, which the gate then reads back from
    * disk. The streaming path is hash-gated against the same DuckDB
    * oracle discipline as every batch operator. */
  def qStreamPipe(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.freshDir("graft_stream_pipe")
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    graft.sinks.ManifestTable.create(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      src, Seq("doc_id"))
    val q = spark.readStream.format("graft")
      .option("keyCols", "doc_id").load(src)
      .writeStream.format("graft")
      .option("path", dst).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.sinks.ManifestTable.read(spark, dst)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("op"), col("seq"))
      .orderBy(col("doc_id"))
  }

  /** APPEND-ONLY streaming source, oracle-gated: the plain
    * `readStream` shape (`streamMode = append`, no key) — bootstrap
    * serves the starting version's files verbatim, the second run's
    * catch-up serves exactly the files the append commit added (zero
    * copy, no diff job) — piped into the graft sink and read back
    * from disk. The downstream table must equal the full source. */
  def qStreamAppend(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.freshDir("graft_stream_append")
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 4 =!= 3)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      src, Seq("doc_id"))
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("streamMode", "append").load(src)
        .writeStream.format("graft")
        .option("path", dst).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run() // bootstrap: the source's files, verbatim
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 4 === 3), src): Unit
    run() // catch-up: exactly the appended files
    graft.sinks.ManifestTable.read(spark, dst)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Atomic predicate-region swap ([[graft.sinks.ManifestTable
    * .replaceWhere]]) end-to-end on disk: one commit deletes the
    * region and inserts its replacement — the idempotent-backfill
    * primitive. The oracle reconstructs exactly
    * kept-region ∪ replacement. */
  def qReplaceWhere(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_replace_where") + "/t"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    // rebuild the doc_id >= 300 region: even ids only, re-derived
    // payload — the backfill shape (half the rows change, half drop)
    graft.sinks.ManifestTable.replaceWhere(
      d.filter(col("doc_id") >= 300 && col("doc_id") % 2 === 0)
        .withColumn("n_chars", col("n_chars") + lit(10000L)),
      root, col("doc_id") >= 300)
    graft.sinks.ManifestTable.read(spark, root).orderBy(col("doc_id"))
  }

  /** RESTORE TO VERSION as a data-bearing gate: create → append →
    * delete → restore(v0), then read back from disk; the oracle is
    * v0's exact content. The restore commit moves zero data — the
    * manifest re-references v0's files — which the driver can only
    * observe as perfect content identity. */
  def qRestore(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_restore") + "/t"
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 3 =!= 0)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))                                        // v0
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 3 === 0), root)                    // v1
    graft.sinks.ManifestTable.deleteWhere(spark, root,
      col("doc_id") % 5 === 0)                                    // v2
    graft.sinks.ManifestTable.restore(spark, root, 0L)            // v3
    graft.sinks.ManifestTable.read(spark, root).orderBy(col("doc_id"))
  }

  /** TAG time travel end-to-end on disk: pin v0 under a name, move
    * the table past it (append + delete), vacuum aggressively — the
    * tag holds its version past the keep horizon — then read
    * `VERSION AS OF '<tag>'`. The oracle is v0's exact content: a
    * tag is an immutable audit/repro pin at any later point. */
  def qTagRead(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_tag") + "/t"
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 2 === 0)
        .repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))                                        // v0
    graft.sinks.ManifestTable.createTag(spark, root, "release_cut")
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 2 === 1), root)                    // v1
    graft.sinks.ManifestTable.deleteWhere(spark, root,
      col("doc_id") % 7 === 0)                                    // v2
    // keep=1 would drop v0 — the tag is what retains it
    graft.sinks.ManifestTable.vacuum(spark, root, keep = 1, ttlMs = 0L)
    spark.read.format("graft").option("versionAsOf", "release_cut")
      .load(root).orderBy(col("doc_id"))
  }

  /** WRITE-AUDIT-PUBLISH end-to-end on disk: fork a branch (shallow —
    * zero data copied), run a delete and a keyed upsert ON THE BRANCH
    * while main stays untouched, audit the branch (the invariant the
    * writes were meant to establish), then PUBLISH — one fast-forward
    * CAS adopting the audited state as main's next version. The
    * oracle is the final relational content; the read is from MAIN
    * after publish, so the gate proves fork isolation, branch
    * row-level ops, and the atomic adopt in one pass. */
  def qBranchWap(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_wap") + "/t"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))                                        // v0
    graft.sinks.ManifestTable.createBranch(spark, root, "audit")
    val b = graft.sinks.ManifestTable.branchRoot(root, "audit")
    graft.sinks.ManifestTable.deleteWhere(spark, b,
      col("n_chars") < 200)
    graft.sinks.ManifestTable.merge(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L),
      b, Seq("doc_id"))
    // AUDIT on the branch: the publish gate a WAP pipeline runs
    val bad = graft.sinks.ManifestTable.read(spark, b)
      .filter(col("n_chars") < 200 && col("doc_id") % 10 =!= 0)
      .limit(1).count()
    require(bad == 0L, "branch audit failed — publish must not run")
    require(graft.sinks.ManifestTable.read(spark, root)
      .filter(col("n_chars") < 200).limit(1).count() > 0L,
      "fork isolation broken: main saw branch writes before publish")
    graft.sinks.ManifestTable.publishBranch(spark, root, "audit")
    graft.sinks.ManifestTable.read(spark, root).orderBy(col("doc_id"))
  }

  /** INCREMENTAL MATERIALIZED VIEW end-to-end on disk: build the view
    * (count/sum/min/max per language over a filtered base — min and
    * max are exactly the aggregates delta-folding cannot maintain
    * under deletes, which the affected-key recompute keeps exact),
    * mutate the base through all three row-level grains (predicate
    * delete, keyed upsert, append), refresh incrementally, and read
    * the VIEW. The oracle recomputes the aggregate over the base's
    * final relational state — the refresh must land exactly there. */
  def qMvRefresh(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.freshDir("graft_mv") + "/base"
    val mv = graft.util.Scratch.freshDir("graft_mv") + "/mv"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      base, Seq("doc_id", "lang"))
    graft.sinks.MaterializedView.create(spark, mv, base,
      "SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars, " +
        "min(doc_id) AS first_doc, max(n_chars) AS max_chars " +
        "FROM __BASE__ WHERE n_chars >= 100 GROUP BY lang", Seq("lang"))
    graft.sinks.ManifestTable.deleteWhere(spark, base,
      col("doc_id") % 7 === 0)
    graft.sinks.ManifestTable.merge(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L),
      base, Seq("doc_id"))
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L), base)
    graft.sinks.MaterializedView.refresh(spark, mv)
    graft.sinks.ManifestTable.read(spark, mv).orderBy(col("lang"))
  }

  /** MATERIALIZED VIEW OVER A JOIN DEFINITION end-to-end on disk —
    * the star-schema MV (`fact ⋈ dim GROUP BY dim.attr`): build the
    * view over documents joined to a language dimension, then fold a
    * DIM-side relabel AND a fact append through ONE incremental
    * refresh. The dim change must remap every fact row of the
    * relabeled languages to the new groups (old labels vanish, new
    * labels appear) purely through the declared join keys; the oracle
    * recomputes the definition over both tables' final states. */
  def qMvJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Scratch.freshDir("graft_mvj") + "/fact"
    val dim = graft.util.Scratch.freshDir("graft_mvj") + "/dim"
    val mv = graft.util.Scratch.freshDir("graft_mvj") + "/mv"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartition(4, col("lang"))
        .sortWithinPartitions(col("lang"), col("doc_id")),
      base, Seq("doc_id", "lang"))
    graft.sinks.ManifestTable.create(
      d.select(col("lang")).distinct()
        .withColumn("lang_label", concat(lit("L-"), col("lang"))),
      dim, Seq("lang"))
    graft.sinks.MaterializedView.create(spark, mv, base,
      "SELECT lang_label, count(*) AS n_docs, " +
        "sum(n_chars) AS total_chars " +
        "FROM __BASE__ f JOIN __DIM_langs__ s ON f.lang = s.lang " +
        "GROUP BY lang_label",
      Seq("lang_label"), dims = Seq(graft.sinks.MaterializedView.JoinDim(
        "langs", dim, Seq("lang"), Seq("lang"))))
    // dim-side relabel: languages below 'f' move to X- groups
    graft.sinks.ManifestTable.deleteWhere(spark, dim, col("lang") < "f")
    graft.sinks.ManifestTable.write(
      d.select(col("lang")).distinct().filter(col("lang") < "f")
        .withColumn("lang_label", concat(lit("X-"), col("lang"))), dim)
    // fact append in the same refresh window
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L), base)
    graft.sinks.MaterializedView.refresh(spark, mv)
    graft.sinks.ManifestTable.read(spark, mv).orderBy(col("lang_label"))
  }

  /** MULTI-TABLE TRANSACTION end-to-end on disk ([[graft.sinks
    * .TableGroup]]): a fact and a dim in one group; a PAIRED change
    * (fact append + dim relabel) lands on per-table branches and
    * publishes through ONE group-tuple commit. The returned frame
    * reads BOTH tables through the group snapshot — and a direct
    * post-publish append to the fact's own head is deliberately left
    * OUT of the oracle, so the hash only matches if group reads
    * really pin the tuple (a leak to the member head would surface
    * the extra rows). */
  def qTxnGroup(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_txn")
    val (fact, dim, grp) = (s"$root/fact", s"$root/dim", s"$root/grp")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartition(4, col("lang"))
        .sortWithinPartitions(col("lang"), col("doc_id")),
      fact, Seq("doc_id", "lang"))
    graft.sinks.ManifestTable.create(
      d.select(col("lang")).distinct()
        .withColumn("lang_label", concat(lit("L-"), col("lang"))),
      dim, Seq("lang"))
    graft.sinks.TableGroup.create(spark, grp,
      Map("fact" -> fact, "dims" -> dim))
    // the paired write, on branches: new fact rows AND the dim
    // relabel they will group under — all-or-nothing for group readers
    graft.sinks.ManifestTable.createBranch(spark, fact, "load")
    graft.sinks.ManifestTable.createBranch(spark, dim, "load")
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L),
      graft.sinks.ManifestTable.branchRoot(fact, "load"))
    graft.sinks.ManifestTable.deleteWhere(spark,
      graft.sinks.ManifestTable.branchRoot(dim, "load"),
      col("lang") < "f")
    graft.sinks.ManifestTable.write(
      d.select(col("lang")).distinct().filter(col("lang") < "f")
        .withColumn("lang_label", concat(lit("X-"), col("lang"))),
      graft.sinks.ManifestTable.branchRoot(dim, "load"))
    graft.sinks.TableGroup.publishBranches(spark, grp, "load")
    // the member's OWN head moves past the tuple: these rows must not
    // appear in the group read (they are absent from the oracle)
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 9000000L), fact)
    graft.sinks.TableGroup.read(spark, grp, "fact")
      .join(graft.sinks.TableGroup.read(spark, grp, "dims"), "lang")
      .groupBy(col("lang_label"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang_label"))
  }

  /** TRANSPARENT MV REWRITE end-to-end on disk: create the join MV,
    * move the base (append) and REFRESH, register the view for
    * rewrite, then run the definition-shaped aggregate AS A PLAIN
    * QUERY over the base tables. The analyzer must substitute the
    * fresh view — the gate REQUIRES the substituted plan reads the
    * view and not the fact (a silently-not-rewritten plan fails loud,
    * not just slow) — and the served rows must hash-match the oracle's
    * recompute over the final states. */
  def qMvRewrite(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_mvrw")
    val (base, dim, mv) = (s"$root/fact", s"$root/dim", s"$root/mv")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartition(4, col("lang"))
        .sortWithinPartitions(col("lang"), col("doc_id")),
      base, Seq("doc_id", "lang"))
    graft.sinks.ManifestTable.create(
      d.select(col("lang")).distinct()
        .withColumn("lang_label", concat(lit("L-"), col("lang"))),
      dim, Seq("lang"))
    graft.sinks.MaterializedView.create(spark, mv, base,
      "SELECT lang_label, count(*) AS n_docs, " +
        "sum(n_chars) AS total_chars " +
        "FROM __BASE__ f JOIN __DIM_langs__ s ON f.lang = s.lang " +
        "GROUP BY lang_label",
      Seq("lang_label"), dims = Seq(graft.sinks.MaterializedView.JoinDim(
        "langs", dim, Seq("lang"), Seq("lang"))))
    // move the base, then catch the view up — the rewrite must track
    // freshness through the refresh, not just create-time parity
    graft.sinks.ManifestTable.write(
      d.filter(col("doc_id") % 4 === 1)
        .withColumn("doc_id", col("doc_id") + 2000000L), base)
    graft.sinks.MaterializedView.refresh(spark, mv)
    graft.sinks.MaterializedView.enableRewrite(spark, mv)
    try {
      graft.sinks.ManifestTable.read(spark, base)
        .createOrReplaceTempView("mvrw_f")
      graft.sinks.ManifestTable.read(spark, dim)
        .createOrReplaceTempView("mvrw_d")
      val out = spark.sql(
        "SELECT lang_label, count(*) AS n_docs, " +
          "sum(n_chars) AS total_chars " +
          "FROM mvrw_f f JOIN mvrw_d s ON f.lang = s.lang " +
          "GROUP BY lang_label")
      val rels = out.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.name
      }
      require(rels.exists(_.contains("/mv")) &&
        !rels.exists(_.contains("/fact")),
        s"transparent rewrite did not serve the view: $rels")
      out.orderBy(col("lang_label"))
    } finally graft.sinks.MaterializedView.disableRewrite(spark, mv)
  }

  /** SNOWFLAKE MATERIALIZED VIEW end-to-end on disk — the second MV a
    * real user writes: `fact ⋈ dim ⋈ dim-of-dim GROUP BY
    * dim-of-dim.attr, date_trunc bucket`. Events join an account dim
    * which joins a team dim-of-dim; the group keys are the team label
    * (two hops from the fact) and a month bucket DECLARED as an
    * expression key. One incremental refresh folds a dim-of-dim
    * relabel (must lift teams→accounts→fact through the declared
    * chain) AND a fact append; the oracle recomputes the definition
    * over the final states. */
  def qMvSnowflake(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_mvsf")
    val (fact, accts, teams, mv) =
      (s"$root/fact", s"$root/accts", s"$root/teams", s"$root/mv")
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"))
    graft.sinks.ManifestTable.create(
      e.repartition(4, col("user_id"))
        .sortWithinPartitions(col("user_id"), col("event_id")),
      fact, Seq("event_id", "user_id"))
    graft.sinks.ManifestTable.create(
      e.select(col("user_id")).distinct()
        .withColumn("team_id", col("user_id") % 7),
      accts, Seq("user_id"))
    graft.sinks.ManifestTable.create(
      spark.range(0, 7).select(col("id").as("team_id"))
        .withColumn("team_label", concat(lit("T-"), col("team_id"))),
      teams, Seq("team_id"))
    graft.sinks.MaterializedView.create(spark, mv, fact,
      "SELECT team_label, date_trunc('month', ts) AS month, " +
        "count(*) AS n_events, sum(event_id) AS id_sum " +
        "FROM __BASE__ e JOIN __DIM_accts__ a ON e.user_id = a.user_id " +
        "JOIN __DIM_teams__ t ON a.team_id = t.team_id " +
        "GROUP BY team_label, date_trunc('month', ts)",
      Seq("team_label", "month"),
      dims = Seq(
        graft.sinks.MaterializedView.JoinDim(
          "accts", accts, Seq("user_id"), Seq("user_id")),
        graft.sinks.MaterializedView.JoinDim(
          "teams", teams, Seq("team_id"), Seq("team_id"),
          parent = Some("accts"))),
      keyExprs = Map("month" -> "date_trunc('month', ts)"))
    // dim-of-dim relabel: teams below 3 move to X- labels
    graft.sinks.ManifestTable.deleteWhere(spark, teams,
      col("team_id") < 3)
    graft.sinks.ManifestTable.write(
      spark.range(0, 3).select(col("id").as("team_id"))
        .withColumn("team_label", concat(lit("X-"), col("team_id"))),
      teams)
    // fact append in the same refresh window
    graft.sinks.ManifestTable.write(
      e.filter(col("event_id") % 5 === 0)
        .withColumn("event_id", col("event_id") + 10000000L), fact)
    graft.sinks.MaterializedView.refresh(spark, mv)
    graft.sinks.ManifestTable.read(spark, mv)
      .orderBy(col("team_label"), col("month"))
  }

  /** MERGE-ON-READ DELETE ([[graft.sinks.ManifestTable
    * .deleteWhereMor]]) end-to-end on disk: two deletes commit
    * deletion-vector sidecars (zero data files rewritten — the second
    * MERGES bits into files the first already vectored), and the read
    * back applies the vectors inside the DSv2 scan. The oracle is the
    * survivors — plain SQL DELETE semantics, same as the
    * copy-on-write gate, proven on the vector path. */
  def qDeleteDv(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_delete_dv") + "/t"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    // scattered point deletes: every file gains a small vector
    graft.sinks.ManifestTable.deleteWhereMor(spark, root,
      col("doc_id") % 10 === 3)
    // a range delete over files that ALREADY carry vectors — bits merge
    graft.sinks.ManifestTable.deleteWhereMor(spark, root,
      col("doc_id") >= 100 && col("doc_id") < 120)
    graft.sinks.ManifestTable.read(spark, root).orderBy(col("doc_id"))
  }

  /** MERGE-ON-READ UPDATE end-to-end on disk, stacked ON TOP of a
    * merge-on-read delete: the delete vectors rows, the update then
    * vectors its matched LIVE rows' old positions and appends their
    * updated copies — the deleted rows must neither update nor
    * resurrect. SQL UPDATE semantics, proven against the plain
    * CASE-expression oracle. */
  def qUpdateDv(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("graft_update_dv") + "/t"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    graft.sinks.ManifestTable.create(
      d.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    graft.sinks.ManifestTable.deleteWhereMor(spark, root,
      col("doc_id") % 9 === 4)
    graft.sinks.ManifestTable.updateWhereMor(spark, root,
      col("doc_id") % 3 === 1,
      Seq("n_chars" -> (col("n_chars") + lit(50000L))))
    graft.sinks.ManifestTable.read(spark, root).orderBy(col("doc_id"))
  }

  /** Probe string for the Jaro-Winkler ranking gate: a plausible but
    * absent part name, so scores spread over the whole range. */
  val JwProbe = "standard anodized tin"

  /** Jaro-Winkler name ranking through the custom codegen expression
    * ([[graft.functions.JaroWinkler]]) — semantics pinned to DuckDB's
    * `jaro_winkler_similarity`, which IS the oracle: same match
    * window, integer-floored transpositions, 0.7-gated prefix boost. */
  def qJaroRank(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    Tables.part(spark, dir).select(col("p_partkey"),
      round(graft.operators.FuzzyJoin.jaroWinkler(
        col("p_name"), lit(JwProbe)), 4).as("jw"))
      .orderBy(col("jw").desc, col("p_partkey").asc)
      .limit(50)
  }

  /** Shuffle-skew diagnostic on the events stream's user key
    * ([[graft.operators.Scale.skewReport]]): exact rank-based
    * per-key-count quantiles with no single-task sort. */
  def qSkewReport(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Scale.skewReport(Tables.events(spark, dir), "user_id")

  /** Benford first-digit profile of line prices by return flag
    * ([[graft.operators.Drift.benfordDigits]]): digits from the exact
    * integer-cents decimal string — never floating log10 binning. */
  def qBenford(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.benfordDigits(
      Tables.lineitem(spark, dir).withColumn("cents",
        round(col("l_extendedprice") * 100, 0).cast("long")),
      "l_returnflag", "cents")
      .orderBy(col("l_returnflag"), col("digit"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_meta_summary"      -> qMetaSummary _,
    "q_benford"           -> qBenford _,
    "q_meta_count"        -> qMetaCount _,
    "q_graft_scan"        -> qGraftScan _,
    "q_dpp_join"          -> qDppJoin _,
    "q_graft_sql"         -> qGraftSql _,
    "q_merge_sql"         -> qMergeSql _,
    "q_merge_sql_full"    -> qMergeSqlFull _,
    "q_rename_sql"        -> qRenameSql _,
    "q_bucket_join"       -> qBucketJoin _,
    "q_update_sql"        -> qUpdateSql _,
    "q_delete_sql"        -> qDeleteSql _,
    "q_delete_filedrop"   -> qDeleteFiledrop _,
    "q_constraint"        -> qConstraint _,
    "q_evolve_sql"        -> qEvolveSql _,
    "q_evolve_nested"     -> qEvolveNested _,
    "q_automerge"         -> qAutoMerge _,
    "q_topn"              -> qTopN _,
    "q_widen_sql"         -> qWidenSql _,
    "q_stream_pipe"       -> qStreamPipe _,
    "q_stream_append"     -> qStreamAppend _,
    "q_replace_where"     -> qReplaceWhere _,
    "q_restore"           -> qRestore _,
    "q_tag_read"          -> qTagRead _,
    "q_branch_wap"        -> qBranchWap _,
    "q_mv_refresh"        -> qMvRefresh _,
    "q_mv_join"           -> qMvJoin _,
    "q_mv_snowflake"      -> qMvSnowflake _,
    "q_mv_rewrite"        -> qMvRewrite _,
    "q_txn_group"         -> qTxnGroup _,
    "q_delete_dv"         -> qDeleteDv _,
    "q_update_dv"         -> qUpdateDv _,
    "q_jaro_rank"         -> qJaroRank _,
    "q_skew_report"       -> qSkewReport _,
    "q1_agg"              -> q1Agg _,
    "q_count_by_key"      -> qCountByKey _,
    "q_multi_agg"         -> qMultiAgg _,
    "q_join_left_fallback"-> qJoinLeftFallback _,
    "q_join_dual_dim"     -> qJoinDualDim _,
    "q_anti_join"         -> qAntiJoin _,
    "q_semi_join"         -> qSemiJoin _,
    "q_full_outer"        -> qFullOuter _,
    "q_topk"              -> qTopK _,
    "q_window_rownum"     -> qWindowRownum _,
    "q_window_running"    -> qWindowRunning _,
    "q_fuzzy_match"       -> qFuzzyMatch _,
    "q_set_ops"           -> qSetOps _,
    "q_dedup_lastwin"     -> qDedupLastWin _,
    "q_distinct"          -> qDistinct _,
    "q_asof_join"         -> qAsofJoin _,
    "q_percentile"        -> qPercentile _,
    "q_winsorize"         -> qWinsorize _,
    "q_incr_agg"          -> qIncrAgg _,
    "q_group_topk"        -> qGroupTopK _,
    "q_profile"           -> qProfile _,
    "q_drift_ks"          -> qDriftKs _,
    "q_drift_psi"         -> qDriftPsi _,
    "q_drift_ks_group"    -> qDriftKsGroup _,
    "q_bloom_lookup"      -> qBloomLookup _,
    "q_percentile_approx" -> qPercentileApprox _,
    "q_percentile_sketch" -> qPercentileSketch _,
    "q_rollup"            -> qRollup _,
    "q_histogram"         -> qHistogram _,
    "q_pivot"             -> qPivot _,
    "q_unpivot"           -> qUnpivot _,
    "q_regression"        -> qRegression _,
    "q_asof_join_fwd"     -> qAsofJoinFwd _,
    "q_pruned_scan"       -> qPrunedScan _,
    "q_planner_pruned"    -> qPlannerPruned _,
    "q_planner_pruned_hilbert" -> qPlannerPrunedHilbert _,
    "q_rolling_window"    -> qRollingWindow _,
    "q_cube"              -> qCube _,
    "q_expectations"      -> qExpectations _)

  val oracleSql: Map[String, String] = Map(
    "q_meta_summary" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
        |  MIN(l_orderkey) AS l_orderkey_min,
        |  MAX(l_orderkey) AS l_orderkey_max,
        |  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS l_orderkey_nulls,
        |  MIN(l_quantity) AS l_quantity_min,
        |  MAX(l_quantity) AS l_quantity_max,
        |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS l_quantity_nulls
        |FROM lineitem""".stripMargin,
    "q_meta_count" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(l_quantity) AS BIGINT) AS n_qty,
        |  MIN(l_orderkey) AS k_min, MAX(l_orderkey) AS k_max,
        |  MIN(l_quantity) AS q_min, MAX(l_quantity) AS q_max
        |FROM lineitem""".stripMargin,
    "q_benford" ->
      """WITH c AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem),
        |d AS (SELECT l_returnflag,
        |    CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM c WHERE cents > 0 GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, digit, n,
        |    CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM d)
        |SELECT l_returnflag, digit, n,
        |  ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS freq,
        |  ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford,
        |  ROUND(ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6)
        |    - ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6), 6) AS dev
        |FROM t ORDER BY 1, 2""".stripMargin,
    "q_skew_report" ->
      """WITH c AS (SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS nk,
        |    CAST(SUM(n) AS BIGINT) AS nr, MAX(n) AS mx FROM c),
        |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n, key) AS rk FROM c)
        |SELECT t.nk AS n_keys, t.nr AS n_rows, t.mx AS max_n,
        |  MAX(CASE WHEN rk = CAST(ceil(0.5 * nk) AS BIGINT)
        |    THEN n END) AS p50_n,
        |  MAX(CASE WHEN rk = CAST(ceil(0.99 * nk) AS BIGINT)
        |    THEN n END) AS p99_n,
        |  ROUND(CAST(t.mx AS DOUBLE) / t.nr, 4) AS top_share
        |FROM r CROSS JOIN t GROUP BY 1, 2, 3""".stripMargin,
    "q_jaro_rank" ->
      s"""SELECT p_partkey,
         |  ROUND(jaro_winkler_similarity(p_name, '$JwProbe'), 4) AS jw
         |FROM part ORDER BY jw DESC, p_partkey LIMIT 50""".stripMargin,
    "q_graft_scan" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang <> 'en' AND doc_id < 200
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // pruning must never change an answer: the oracle is the plain
    // relational join the runtime-filtered scan serves
    "q_dpp_join" ->
      """SELECT d.doc_id AS doc_id, d.lang AS lang, d.n_chars AS n_chars,
        |  s.lang AS dim_lang
        |FROM documents d
        |JOIN (SELECT doc_id, lang FROM documents
        |      WHERE doc_id % 25 = 0 AND doc_id < 100) s
        |  ON d.doc_id = s.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_graft_sql" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE doc_id < 500
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the MERGE INTO statement must agree with the same relational
    // MERGE algebra the Scala-API gate (q_merge_upsert) uses, minus
    // its delete step
    "q_merge_sql" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 7),
        |upd AS (
        |  SELECT doc_id, lang, 'UPDATED: ' || text AS text
        |  FROM documents WHERE doc_id % 5 = 2),
        |merged AS (
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = b.doc_id)
        |  UNION ALL
        |  SELECT * FROM upd)
        |SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_len,
        |  substr(text, 1, 12) AS head
        |FROM merged ORDER BY doc_id""".stripMargin,
    // the general MERGE's four row classes, reconstructed
    // relationally: matched rows take the FIRST arm whose condition
    // holds (delete under 300 chars, else both-sides update);
    // unmatched source rows insert only under the arm's condition;
    // unmatched target rows delete on %9=4 unless the earlier %9=0
    // update arm claimed them first
    "q_merge_sql_full" ->
      """WITH base AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 10 <> 7),
        |src AS (
        |  SELECT doc_id, lang, n_chars + 10000 AS n_chars FROM documents
        |  WHERE doc_id % 5 = 2),
        |kept_matched AS (
        |  SELECT b.doc_id, b.lang, s.n_chars + b.n_chars AS n_chars
        |  FROM base b JOIN src s ON b.doc_id = s.doc_id
        |  WHERE b.n_chars >= 300),
        |inserted AS (
        |  SELECT s.doc_id, s.lang, s.n_chars FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.doc_id = s.doc_id)
        |    AND s.lang = 'en'),
        |by_src AS (
        |  SELECT b.doc_id,
        |    CASE WHEN b.doc_id % 9 = 0 THEN b.lang || '!' ELSE b.lang END
        |      AS lang,
        |    b.n_chars
        |  FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.doc_id = b.doc_id)
        |    AND NOT (b.doc_id % 9 <> 0 AND b.doc_id % 9 = 4))
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT * FROM kept_matched
        |      UNION ALL SELECT * FROM inserted
        |      UNION ALL SELECT * FROM by_src)
        |ORDER BY doc_id""".stripMargin,
    // the storage-partitioned join must return exactly the plain join
    "q_bucket_join" ->
      """SELECT d.doc_id AS doc_id, d.lang AS lang,
        |  CAST(b.n_chars * 2 AS BIGINT) AS x
        |FROM documents d
        |JOIN (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0) b
        |  ON d.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin,
    // rename is metadata-only: content equals the original column
    // under the new name, with the merged keys' bump applied
    "q_rename_sql" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 11 = 3 THEN n_chars + 100000
        |         ELSE n_chars END AS chars
        |  FROM documents)
        |SELECT doc_id, lang, CAST(chars AS BIGINT) AS chars
        |FROM t WHERE chars >= 200 ORDER BY doc_id""".stripMargin,
    "q_update_sql" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 3 THEN lang || '+' ELSE lang END AS lang,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN n_chars + 1000
        |       ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // pre-evolution rows read NULL for the evolved column; the
    // post-evolution insert carries it
    "q_evolve_sql" ->
      """SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS note
        |FROM documents WHERE doc_id % 4 <> 3
        |UNION ALL
        |SELECT doc_id, lang, 'n-' || lang AS note
        |FROM documents WHERE doc_id % 4 = 3
        |ORDER BY doc_id""".stripMargin,
    // int→bigint widening changes no retained value; the post-widen
    // insert carries values past the int range
    "q_widen_sql" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 4 <> 3 AND n_chars > 500
        |UNION ALL
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) + 5000000000 AS n_chars
        |FROM documents WHERE doc_id % 4 = 3
        |  AND CAST(n_chars AS BIGINT) + 5000000000 > 500
        |ORDER BY doc_id""".stripMargin,
    // nested rename/widen change no values; pre-evolution rows read
    // NULL for the added struct member, the insert carries it
    "q_evolve_nested" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(NULL AS VARCHAR) AS note
        |FROM documents WHERE doc_id % 4 <> 3
        |UNION ALL
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  'n-' || lang AS note
        |FROM documents WHERE doc_id % 4 = 3
        |ORDER BY doc_id""".stripMargin,
    // four row classes of the auto-merged table: kept originals read
    // NULL for both evolved columns, merge-updated rows carry
    // n_chars, merge-inserted rows likewise, and the mergeSchema
    // append's rows carry n_chars + score with lang filled NULL
    "q_automerge" ->
      """SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS score
        |FROM documents WHERE doc_id % 4 <> 3 AND doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars,
        |  CAST(NULL AS BIGINT) AS score
        |FROM documents WHERE doc_id % 4 <> 3 AND doc_id % 3 <> 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS score
        |FROM documents WHERE doc_id % 4 = 3 AND doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, n_chars,
        |  n_chars * 2 AS score
        |FROM documents WHERE doc_id % 4 = 3 AND doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin,
    // the two deterministic top-500 slices (unique key) — the engine
    // side plans only the leading/trailing files via top-n pushdown,
    // which must never change the answer
    "q_topn" ->
      """SELECT doc_id, lang, n_chars FROM
        |  (SELECT doc_id, lang, n_chars FROM documents
        |   ORDER BY doc_id LIMIT 500)
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM
        |  (SELECT doc_id, lang, n_chars FROM documents
        |   ORDER BY doc_id DESC LIMIT 500)""".stripMargin,
    // kept-region ∪ replacement: rows under the predicate are swapped
    // for the batch, rows outside it survive verbatim
    "q_replace_where" ->
      """SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT doc_id, lang, n_chars + 10000 AS n_chars
        |FROM documents WHERE doc_id >= 300 AND doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin,
    // survivors of the two deletes — merge-on-read reads must equal
    // plain SQL DELETE semantics exactly
    "q_delete_dv" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT (doc_id % 10 = 3)
        |  AND NOT (doc_id >= 100 AND doc_id < 120)
        |ORDER BY doc_id""".stripMargin,
    // MoR delete then MoR update: deleted rows are gone (never updated
    // back to life), matched survivors carry the assignment
    "q_update_dv" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 3 = 1 THEN n_chars + 50000
        |       ELSE n_chars END AS n_chars
        |FROM documents WHERE NOT (doc_id % 9 = 4)
        |ORDER BY doc_id""".stripMargin,
    // restore(v0) after an append and a delete reads exactly v0
    "q_restore" ->
      """SELECT doc_id, lang FROM documents WHERE doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin,
    // the tag pins v0 (the even docs) through the later append,
    // delete, and an aggressive vacuum
    "q_tag_read" ->
      """SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin,
    // the MV after the incremental refresh == the aggregate over the
    // base's final state: delete (doc_id%7), keyed upsert (doc_id%10
    // boosted — re-inserting deleted keys, upsert semantics), append
    // of shifted clones (doc_id%3), then the filtered group-by
    "q_mv_refresh" ->
      """WITH s1 AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 7 <> 0),
        |boosted AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0),
        |s2 AS (
        |  SELECT * FROM boosted
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM s1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM boosted)),
        |s3 AS (
        |  SELECT * FROM s2
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS first_doc, max(n_chars) AS max_chars
        |FROM s3 WHERE n_chars >= 100
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the join-definition MV after one refresh == the definition over
    // both tables' FINAL states: the dim relabeled langs below 'f'
    // (X- groups replace L- groups), the fact gained shifted clones
    "q_mv_join" ->
      """WITH dim AS (
        |  SELECT lang,
        |    CASE WHEN lang < 'f' THEN 'X-' || lang
        |         ELSE 'L-' || lang END AS lang_label
        |  FROM (SELECT DISTINCT lang FROM documents)),
        |fact AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT lang_label, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM fact f JOIN dim s ON f.lang = s.lang
        |GROUP BY lang_label ORDER BY lang_label""".stripMargin,
    // the group-snapshot join == the atomically-published pair: the
    // fact gained the %3 clones and the dim relabeled langs below 'f'
    // IN ONE TUPLE; the later direct %5 append to the fact's head is
    // deliberately absent — the hash matches only if group reads pin
    // the tuple
    "q_txn_group" ->
      """WITH dim AS (
        |  SELECT lang,
        |    CASE WHEN lang < 'f' THEN 'X-' || lang
        |         ELSE 'L-' || lang END AS lang_label
        |  FROM (SELECT DISTINCT lang FROM documents)),
        |fact AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT lang_label, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM fact f JOIN dim s ON f.lang = s.lang
        |GROUP BY lang_label ORDER BY lang_label""".stripMargin,
    // the transparently-served MV == the definition over the final
    // states: the base gained shifted clones of doc_id % 4 = 1 and
    // the view was refreshed before the rewritten query ran
    "q_mv_rewrite" ->
      """WITH dim AS (
        |  SELECT lang, 'L-' || lang AS lang_label
        |  FROM (SELECT DISTINCT lang FROM documents)),
        |fact AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 4 = 1)
        |SELECT lang_label, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM fact f JOIN dim s ON f.lang = s.lang
        |GROUP BY lang_label ORDER BY lang_label""".stripMargin,
    // the snowflake MV after one refresh == the definition over the
    // final states: teams 0-2 relabeled X- (dim-of-dim), the fact
    // gained shifted clones of event_id % 5 = 0; month is the
    // date_trunc expression key
    "q_mv_snowflake" ->
      """WITH accts AS (
        |  SELECT DISTINCT user_id, user_id % 7 AS team_id FROM events),
        |teams AS (
        |  SELECT team_id,
        |    CASE WHEN team_id < 3 THEN 'X-' || team_id
        |         ELSE 'T-' || team_id END AS team_label
        |  FROM range(0, 7) t(team_id)),
        |fact AS (
        |  SELECT event_id, ts, user_id FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000 AS event_id, ts, user_id
        |  FROM events WHERE event_id % 5 = 0)
        |SELECT team_label,
        |  CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
        |  count(*) AS n_events, CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM fact e
        |JOIN accts a ON e.user_id = a.user_id
        |JOIN teams t ON a.team_id = t.team_id
        |GROUP BY team_label, date_trunc('month', ts)
        |ORDER BY team_label, month""".stripMargin,
    // write-audit-publish: main after publish == branch's delete
    // (n_chars < 200) then keyed upsert (doc_id % 10 = 0 boosted)
    "q_branch_wap" ->
      """WITH boosted AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id, lang, n_chars FROM boosted
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars >= 200
        |  AND doc_id NOT IN (SELECT doc_id FROM boosted)
        |ORDER BY doc_id""".stripMargin,
    // the streaming bootstrap is the whole table as inserts at the
    // stream's starting version
    "q_stream_pipe" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  'I' AS op, CAST(0 AS BIGINT) AS seq
        |FROM documents ORDER BY doc_id""".stripMargin,
    // bootstrap ∪ the appended files' rows — the append-only stream
    // must reassemble the source exactly
    "q_stream_append" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // coalesce pins DELETE's NULL-keeps semantics (a NULL predicate
    // KEEPS the row): plain NOT (...) would silently drop NULL-cond
    // rows and mask an engine regression on a nullable column
    "q_delete_sql" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE NOT coalesce(doc_id % 3 = 0 OR lang = 'en', FALSE)
        |ORDER BY doc_id""".stripMargin,
    "q_delete_filedrop" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id > 150 AND doc_id <= 400
        |ORDER BY doc_id""".stripMargin,
    "q_constraint" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_pivot" ->
      """SELECT CAST(ts AS DATE) AS bucket_day,
        |  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_unpivot" ->
      """SELECT CAST(ts AS DATE) AS bucket_day, event_type,
        |  COUNT(*) AS n
        |FROM events GROUP BY 1, 2 HAVING COUNT(*) > 0
        |ORDER BY 1, 2""".stripMargin,
    "q_regression" ->
      """SELECT event_type,
        |  CAST(regr_count("value", CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)) AS BIGINT) AS n,
        |  ROUND(regr_slope("value", epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0), 6) AS slope_per_day,
        |  ROUND(regr_intercept("value", epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000.0), 4) AS intercept
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_histogram" ->
      """WITH r AS (SELECT "value" AS v,
        |    NTILE(8) OVER (ORDER BY "value", event_id) AS bucket
        |  FROM events)
        |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
        |  MIN(v) AS v_min, MAX(v) AS v_max
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_percentile" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(value, 0.95), 4) AS p95,
        |  ROUND(MIN(value), 2) AS v_min,
        |  ROUND(MAX(value), 2) AS v_max
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (SELECT event_type,
        |    ROUND(quantile_cont(value, 0.05), 4) AS p_lo,
        |    ROUND(quantile_cont(value, 0.95), 4) AS p_hi
        |  FROM events GROUP BY 1)
        |SELECT event_id, event_type, ROUND(value, 4) AS value,
        |  ROUND(LEAST(GREATEST(value, p_lo), p_hi), 4) AS value_w,
        |  p_lo, p_hi
        |FROM events JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "q_percentile_approx" ->
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(value, 0.95), 4) AS p95,
        |  TRUE AS p50_within,
        |  TRUE AS p95_within
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the sketch is deterministic integer arithmetic, so the oracle
    // re-derives the identical bucket ladder and estimates — epoch
    // boundaries are invisible to it (bucket addition is associative)
    "q_percentile_sketch" -> {
      val ladder = (1 to 54).map { j =>
        s"WHEN u < ${256L << j} THEN ${j * 128} + (u >> $j)"
      }.mkString("\n    ")
      val rep = "CASE WHEN bucket < 256 THEN bucket ELSE " +
        "CAST((bucket - (bucket // 128 - 1) * 128) * " +
        "power(2, bucket // 128 - 1) AS BIGINT) END / 100.0"
      s"""WITH uq AS (
         |  SELECT event_type, CAST(floor(value * 100.0) AS BIGINT) AS u
         |  FROM events WHERE value IS NOT NULL),
         |bk AS (
         |  SELECT event_type, CASE WHEN u < 256 THEN u
         |    $ladder
         |    ELSE ${55 * 128} + (u >> 55) END AS bucket
         |  FROM uq),
         |sk AS (SELECT event_type, bucket, COUNT(*) AS n
         |  FROM bk GROUP BY 1, 2),
         |cm AS (SELECT event_type, bucket, n,
         |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bucket)
         |      AS BIGINT) AS cum,
         |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
         |  FROM sk)
         |SELECT event_type, MAX(tot) AS n,
         |  MIN($rep) FILTER (WHERE cum >= (tot * 50 + 99) // 100)
         |    AS p50_sketch,
         |  arg_min(n, bucket) FILTER (WHERE cum >= (tot * 50 + 99) // 100)
         |    AS p50_rank_err,
         |  MIN($rep) FILTER (WHERE cum >= (tot * 95 + 99) // 100)
         |    AS p95_sketch,
         |  arg_min(n, bucket) FILTER (WHERE cum >= (tot * 95 + 99) // 100)
         |    AS p95_rank_err
         |FROM cm GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem WHERE l_discount > 0.01
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_count_by_key" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_multi_agg" ->
      """SELECT user_id,
        |  COUNT(*) AS n_events,
        |  ROUND(SUM("value"), 2) AS total_value,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS has_error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_left_fallback" ->
      """SELECT COALESCE(p.p_brand, 'brand_unknown') AS brand,
        |  ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem l
        |LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size > 25) p
        |  ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_dual_dim" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        |  ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderstatus = 'F' AND o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_orderstatus = 'O' AND o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_full_outer" ->
      """WITH s AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS signups
        |           FROM events WHERE event_type = 'signup' GROUP BY 1),
        |     e AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS errors
        |           FROM events WHERE event_type = 'error' GROUP BY 1)
        |SELECT COALESCE(s.day, e.day) AS day,
        |  COALESCE(s.signups, 0) AS signups,
        |  COALESCE(e.errors, 0) AS errors
        |FROM s FULL OUTER JOIN e ON s.day = e.day
        |ORDER BY 1""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_window_rownum" ->
      """SELECT user_id, event_id,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |  CASE WHEN LAG(ts, 1) OVER w IS NULL THEN NULL
        |       ELSE GREATEST(CAST(0 AS BIGINT), CAST(ROUND(
        |    (epoch_ms(ts) - epoch_ms(LAG(ts, 1) OVER w)) / 1000.0) AS BIGINT)) END AS gap_seconds
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, rn""".stripMargin,
    "q_window_running" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  ROUND(SUM(cents) OVER w_run / 100.0, 2) AS running_total,
        |  ROUND(AVG(cents) OVER w_mov / 100.0, 4) AS mov_avg3
        |FROM o
        |WINDOW
        |  w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_fuzzy_match" ->
      """WITH b AS (SELECT p_partkey, p_name, p_brand, p_size FROM part),
        |sz AS (SELECT p_brand, p_size FROM b GROUP BY 1, 2 HAVING COUNT(*) <= 100),
        |k AS (SELECT b.* FROM b JOIN sz USING (p_brand, p_size))
        |SELECT a.p_partkey AS id_a, c.p_partkey AS id_b,
        |  a.p_name AS name_a, c.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, c.p_name) AS INT) AS dist
        |FROM k a JOIN k c
        |  ON a.p_brand = c.p_brand AND a.p_size = c.p_size
        |  AND a.p_partkey < c.p_partkey
        |WHERE levenshtein(a.p_name, c.p_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q_set_ops" ->
      """WITH s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'),
        |     e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        |SELECT 'except' AS op, user_id FROM (SELECT user_id FROM s EXCEPT SELECT user_id FROM e)
        |UNION ALL
        |SELECT 'intersect' AS op, user_id FROM (SELECT user_id FROM s INTERSECT SELECT user_id FROM e)
        |ORDER BY op, user_id""".stripMargin,
    "q_dedup_lastwin" ->
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT user_id FROM events ORDER BY user_id""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_r,
        |    event_id AS prior_id, event_type AS prior_type
        |  FROM events WHERE event_type <> 'purchase'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts_r
        |    ORDER BY prior_id DESC NULLS LAST, prior_type DESC NULLS LAST) = 1)
        |SELECT p.purchase_id, p.user_id, r.prior_id, r.prior_type
        |FROM p ASOF LEFT JOIN r
        |  ON p.user_id = r.user_id AND r.ts_r <= p.ts
        |ORDER BY p.purchase_id""".stripMargin,
    "q_asof_join_fwd" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_r,
        |    event_id AS next_id, event_type AS next_type
        |  FROM events WHERE event_type <> 'purchase'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts_r
        |    ORDER BY next_id DESC NULLS LAST, next_type DESC NULLS LAST) = 1)
        |SELECT p.purchase_id, p.user_id, r.next_id, r.next_type
        |FROM p ASOF LEFT JOIN r
        |  ON p.user_id = r.user_id AND r.ts_r >= p.ts
        |ORDER BY p.purchase_id""".stripMargin,
    "q_pruned_scan" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM("value"), 2) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-13'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_planner_pruned" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM("value"), 2) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-20' AND DATE '2024-01-24'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_planner_pruned_hilbert" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM("value"), 2) AS total_value
        |FROM events
        |WHERE epoch_us(CAST(ts AS TIMESTAMP))
        |    BETWEEN epoch_us(TIMESTAMP '2024-01-01 00:00:00')
        |        AND epoch_us(TIMESTAMP '2024-01-02 00:00:00')
        |  AND user_id <= 10
        |  AND CAST(round("value" * 100, 0) AS BIGINT) BETWEEN 100 AND 20000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rolling_window" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |    CAST(round("value" * 100, 0) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  ROUND(SUM(cents) OVER w / 100.0, 2) AS rolling_sum,
        |  COUNT(*) OVER w AS rolling_n
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_bloom_lookup" -> {
      val keys = BloomLookupKeys.mkString(", ")
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE doc_id IN ($keys) ORDER BY doc_id""".stripMargin
    },
    "q_drift_ks" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round("value" * 100, 0) AS BIGINT) AS v FROM events),
        |u AS (SELECT v,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        |  FROM e WHERE event_type IN ('view', 'purchase') GROUP BY v),
        |w AS (SELECT v,
        |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum_a,
        |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum_b,
        |    SUM(ca) OVER () AS n_a, SUM(cb) OVER () AS n_b
        |  FROM u),
        |g AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |    ABS(cum_a * n_b - cum_b * n_a) AS gap, v
        |  FROM w)
        |SELECT n_a, n_b,
        |  ROUND(CAST(gap AS DOUBLE)
        |    / CAST(n_a * n_b AS DOUBLE), 6) AS ks,
        |  v AS ks_at
        |FROM g ORDER BY gap DESC, v LIMIT 1""".stripMargin,
    "q_drift_ks_group" ->
      s"""WITH e AS (SELECT event_type AS grp,
         |    CAST(round("value" * 100, 0) AS BIGINT) AS v,
         |    CASE WHEN CAST(ts AS DATE) < DATE '$DriftCutoff'
         |      THEN 1 ELSE 0 END AS ca,
         |    CASE WHEN CAST(ts AS DATE) >= DATE '$DriftCutoff'
         |      THEN 1 ELSE 0 END AS cb
         |  FROM events),
         |u AS (SELECT grp, v, SUM(ca) AS ca, SUM(cb) AS cb
         |  FROM e GROUP BY grp, v),
         |w AS (SELECT grp, v,
         |    SUM(ca) OVER (PARTITION BY grp ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         |    SUM(cb) OVER (PARTITION BY grp ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
         |    SUM(ca) OVER (PARTITION BY grp) AS n_a,
         |    SUM(cb) OVER (PARTITION BY grp) AS n_b
         |  FROM u),
         |g AS (SELECT grp, CAST(n_a AS BIGINT) AS n_a,
         |    CAST(n_b AS BIGINT) AS n_b,
         |    ABS(cum_a * n_b - cum_b * n_a) AS gap, v
         |  FROM w),
         |r AS (SELECT grp, n_a, n_b,
         |    CASE WHEN n_a > 0 AND n_b > 0 THEN
         |      ROUND(CAST(gap AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 6)
         |    END AS ks, v AS ks_at,
         |    ROW_NUMBER() OVER (PARTITION BY grp
         |      ORDER BY gap DESC, v) AS rn
         |  FROM g)
         |SELECT grp, n_a, n_b, ks, ks_at FROM r WHERE rn = 1
         |ORDER BY grp""".stripMargin,
    "q_drift_psi" ->
      s"""WITH e AS (SELECT event_type,
         |    CAST(round("value" * 100, 0) AS BIGINT) AS v FROM events),
         |ga AS (SELECT CAST(LEAST($PsiBuckets - 1, GREATEST(0,
         |      FLOOR(v * $PsiBuckets / ${PsiHi - PsiLo + 1}))) AS INT) AS bucket,
         |    COUNT(*) AS n
         |  FROM e WHERE event_type = 'view' GROUP BY 1),
         |gb AS (SELECT CAST(LEAST($PsiBuckets - 1, GREATEST(0,
         |      FLOOR(v * $PsiBuckets / ${PsiHi - PsiLo + 1}))) AS INT) AS bucket,
         |    COUNT(*) AS n
         |  FROM e WHERE event_type = 'purchase' GROUP BY 1),
         |grid AS (SELECT CAST(unnest(range($PsiBuckets)) AS INT) AS bucket),
         |c AS (SELECT grid.bucket,
         |    CAST(COALESCE(ga.n, 0) AS BIGINT) AS n_a,
         |    CAST(COALESCE(gb.n, 0) AS BIGINT) AS n_b
         |  FROM grid LEFT JOIN ga USING (bucket) LEFT JOIN gb USING (bucket)),
         |t AS (SELECT bucket, n_a, n_b,
         |    (CAST(n_a AS DOUBLE) + 0.5)
         |      / (CAST(SUM(n_a) OVER () AS DOUBLE) + ${PsiBuckets / 2.0}) AS p_a,
         |    (CAST(n_b AS DOUBLE) + 0.5)
         |      / (CAST(SUM(n_b) OVER () AS DOUBLE) + ${PsiBuckets / 2.0}) AS p_b
         |  FROM c)
         |SELECT bucket, n_a, n_b,
         |  ROUND((p_a - p_b) * ln(p_a / p_b), 6) AS psi_term
         |FROM t ORDER BY bucket""".stripMargin,
    "q_profile" -> {
      def arm(label: String, ident: String, num: Boolean) =
        s"""SELECT '$label' AS "column", COUNT(*) AS n_rows,
           |  COUNT($ident) AS n_nonnull, COUNT(DISTINCT $ident) AS n_distinct,
           |  ${if (num) s"ROUND(CAST(MIN($ident) AS DOUBLE), 4)" else "CAST(NULL AS DOUBLE)"} AS min_num,
           |  ${if (num) s"ROUND(CAST(MAX($ident) AS DOUBLE), 4)" else "CAST(NULL AS DOUBLE)"} AS max_num,
           |  ${if (num) "CAST(NULL AS VARCHAR)" else s"MIN($ident)"} AS min_str,
           |  ${if (num) "CAST(NULL AS VARCHAR)" else s"MAX($ident)"} AS max_str
           |FROM events""".stripMargin
      Seq(arm("event_id", "event_id", num = true),
        arm("user_id", "user_id", num = true),
        arm("event_type", "event_type", num = false),
        arm("value", "\"value\"", num = true))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    "q_group_topk" ->
      """SELECT event_type, CAST(rank AS INT) AS rank, event_id,
        |  ROUND("value", 4) AS value
        |FROM (SELECT event_type, event_id, "value", ROW_NUMBER() OVER
        |    (PARTITION BY event_type ORDER BY "value" DESC, event_id) AS rank
        |  FROM events) t
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    "q_incr_agg" ->
      """WITH f AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(round("value" * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_id % 16 <> 0)
        |SELECT event_type, day, COUNT(*) AS n,
        |  ROUND(CAST(SUM(cents) AS BIGINT) / 100.0, 2) AS total_value,
        |  ROUND(MIN(cents) / 100.0, 2) AS min_value,
        |  ROUND(MAX(cents) / 100.0, 2) AS max_value
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_cube" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, "value" FROM events)
        |SELECT event_type, day, GROUPING(event_type, day) AS gid,
        |  COUNT(*) AS n, ROUND(SUM("value"), 2) AS total_value
        |FROM e GROUP BY CUBE (event_type, day)
        |ORDER BY gid, event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_expectations" ->
      """WITH t AS (SELECT COUNT(*) AS total,
        |  COUNT(*) FILTER (WHERE NOT COALESCE(l_discount BETWEEN 0.0 AND 0.1, FALSE)) AS v_discount,
        |  COUNT(*) FILTER (WHERE NOT COALESCE(l_extendedprice > 0, FALSE)) AS v_price,
        |  COUNT(*) FILTER (WHERE NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE)) AS v_qty,
        |  COUNT(*) FILTER (WHERE NOT COALESCE(l_tax <= l_discount + 0.06, FALSE)) AS v_tax
        |FROM lineitem)
        |SELECT 'discount_range' AS rule, v_discount AS violations, total FROM t
        |UNION ALL SELECT 'positive_price', v_price, total FROM t
        |UNION ALL SELECT 'qty_range', v_qty, total FROM t
        |UNION ALL SELECT 'tax_capped', v_tax, total FROM t
        |ORDER BY rule""".stripMargin)
}
