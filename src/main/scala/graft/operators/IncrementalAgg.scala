package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate view — the materialized-view
  * pattern for a 100 TB fact table: keep a small (|keys|-row)
  * count/sum state table and fold CDC-style deltas into it, so a
  * day's ingest costs ∝ |delta| + |touched keys|, never a re-scan of
  * the full fact history. Complements [[graft.sinks.ManifestTable]]
  * (whose keyed commits store exactly such state tables —
  * [[graft.streaming.EventStreams.incrementalAggStream]]) and
  * `Sketches`/`QuantileSketch` (the same fold discipline for distinct
  * counts and quantiles).
  *
  * Maintained aggregates: COUNT and SUM — the natively retractable
  * pair (a delete subtracts exactly what its insert added; AVG =
  * sum/n at read time) — plus, when `extremaSupport > 0`, retractable
  * MIN/MAX through a bounded per-key value HISTOGRAM: the state keeps
  * every distinct (quantized) value with its live count, so a deleted
  * extremum falls out exactly (its count hits zero and the next value
  * is already present) with no history re-scan. The honesty contract
  * is the bound: a key whose distinct-value support exceeds
  * `extremaSupport` fails fast — same quantized-support discipline as
  * [[Drift]]'s exact KS — because an unbounded histogram is just the
  * raw data wearing a view's clothes. Without the opt-in, MIN/MAX
  * stay absent: pretending extrema are retractable from (count, sum)
  * alone silently corrupts the view.
  *
  * The summed value must be an INTEGER column (quantize money to
  * cents first, cf. q_rolling_window): LongType addition is exact and
  * order-independent, so `state ∪ delta` folds bit-identically to a
  * from-scratch rebuild — spec-asserted — where float sums would
  * drift with partitioning. The histogram is kept sorted by value
  * (`sort_array`), so state comparisons are deterministic and
  * v_min/v_max are its first/last entries — no extra pass.
  */
object IncrementalAgg {

  private def histState(grouped: DataFrame, keyCols: Seq[String],
                        extremaSupport: Int): DataFrame =
    grouped
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_cnt")).as("n"),
        sum(col("_v") * col("_cnt")).as("val_sum"),
        sort_array(collect_list(struct(col("_v").as("v"),
          col("_cnt").as("cnt")))).as("vhist"))
      .withColumn("vhist",
        when(size(col("vhist")) <= extremaSupport, col("vhist"))
          .otherwise(raise_error(
            lit(s"IncrementalAgg: distinct-value support exceeds " +
              s"$extremaSupport for a key — raise extremaSupport or " +
              "quantize coarser"))))
      .withColumn("v_min", element_at(col("vhist"), 1).getField("v"))
      .withColumn("v_max", element_at(col("vhist"), -1).getField("v"))

  /** Build the initial state: one row per key with exact (n, val_sum),
    * plus (vhist, v_min, v_max) when `extremaSupport > 0`. */
  def build(facts: DataFrame, keyCols: Seq[String], valCol: Column,
            extremaSupport: Int = 0): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    if (extremaSupport <= 0)
      facts.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(valCol.cast("long")).as("val_sum"))
    else
      histState(
        facts.groupBy((keyCols.map(col) :+ valCol.cast("long").as("_v")): _*)
          .agg(count(lit(1)).as("_cnt")),
        keyCols, extremaSupport)
  }

  /** Fold a delta batch into the state. Delta rows carry `opCol`:
    * 'I' inserts a fact row, 'D' retracts one previously inserted
    * (an update is D-old + I-new, the standard retraction encoding);
    * any other op value fails the job rather than corrupting the view.
    *
    * Contract: every D must match a live inserted row (standard CDC
    * retraction). Keys whose count falls to 0 leave the state; a key
    * driven negative by an unmatched retraction is a pipeline bug and
    * fails fast rather than surviving as nonsense. With extrema
    * tracking, the same guards apply per VALUE: a retracted value's
    * count hits zero and the entry leaves the histogram, so a deleted
    * extremum re-derives the min/max exactly from what remains.
    *
    * Scale shape: the delta pre-aggregates map-side to its own touched
    * keys, then one |state|+|touched-keys| shuffle rebuilds the view —
    * with extrema, |state| is the exploded histogram, ≤ |keys| ×
    * extremaSupport rows: bounded by contract. The result is
    * row-identical to [[build]] over the post-delta fact set
    * (spec-asserted bit equality).
    */
  def applyDelta(state: DataFrame, delta: DataFrame, keyCols: Seq[String],
                 valCol: Column, opCol: Column,
                 extremaSupport: Int = 0): DataFrame = {
    val tracked = state.columns.contains("vhist")
    require(tracked == (extremaSupport > 0),
      "pass the same extremaSupport the state was built with " +
        "(0 for a count/sum-only state)")
    val sgn = when(opCol === "I", 1L).when(opCol === "D", -1L)
      .otherwise(raise_error(concat(lit("IncrementalAgg: unknown op "), opCol)))
    if (!tracked) {
      val d = delta.groupBy(keyCols.map(col): _*)
        .agg(sum(sgn).as("n"), sum(sgn * valCol.cast("long")).as("val_sum"))
      state.unionByName(d)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(col("n")).as("n"), sum(col("val_sum")).as("val_sum"))
        .withColumn("n", when(col("n") >= 0, col("n")).otherwise(raise_error(
          lit("IncrementalAgg: count went negative — unmatched retraction"))))
        .filter(col("n") > 0)
    } else {
      val stateRows = state
        .select(keyCols.map(col) :+ explode(col("vhist")).as("_e"): _*)
        .select(keyCols.map(col) :+ col("_e.v").as("_v") :+
          col("_e.cnt").as("_cnt"): _*)
      val deltaRows = delta
        .select(keyCols.map(col) :+ valCol.cast("long").as("_v") :+
          sgn.as("_cnt"): _*)
      val merged = stateRows.unionByName(deltaRows)
        .groupBy((keyCols.map(col) :+ col("_v")): _*)
        .agg(sum(col("_cnt")).as("_cnt"))
        .withColumn("_cnt",
          when(col("_cnt") >= 0, col("_cnt")).otherwise(raise_error(lit(
            "IncrementalAgg: count went negative — unmatched retraction"))))
        .filter(col("_cnt") > 0)
      histState(merged, keyCols, extremaSupport)
    }
  }

  /** Range backfill — the repair path when a correction arrives BEYOND
    * the reach of row-level retractions (upstream restated three days;
    * nobody has the original rows to emit 'D's for): drop the state's
    * rows for keys matching `keyCond` and rebuild exactly those keys
    * from the corrected facts. `keyCond` must reference only key
    * columns (it is applied to both the state and the facts — the two
    * sides must select the same key range); facts outside the range
    * are never scanned, so the repair costs ∝ affected range, not
    * history. Row-identical to a full [[build]] over the corrected
    * fact set (spec-asserted). */
  def rebuildRange(state: DataFrame, facts: DataFrame, keyCols: Seq[String],
                   valCol: Column, keyCond: Column,
                   extremaSupport: Int = 0): DataFrame =
    state.filter(!coalesce(keyCond, lit(false)))
      .unionByName(build(facts.filter(keyCond), keyCols, valCol,
        extremaSupport))
}
