package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) builder — turn an observation log
  * (entity, observed-at, attribute value) into versioned dimension rows
  * with effective-time ranges. This is the warehouse-side complement of
  * [[SnapshotDiff]]: diff tells an incremental pipeline WHAT changed
  * between two corpus epochs; SCD2 keeps the full change HISTORY
  * queryable (as-of joins against `effective_from/effective_to` answer
  * "what was this entity's state when that training run was cut?").
  *
  * Semantics: per entity, observations are ordered by (ts, tie-break
  * id); consecutive runs of the SAME value collapse into one version
  * row `[effective_from, effective_to)` where `effective_to` is the
  * next version's start (NULL on the open current version,
  * `is_current = true`). A value that disappears and later returns
  * starts a NEW version — SCD2 history is run-length, not
  * distinct-value.
  *
  * Scale shape: ONE shuffle, keyed by the entity id. The change-flag
  * lag, the run-id running sum, the run collapse (groupBy entity+run),
  * and the effective_to lead are all expressed over the same
  * entity-hash partitioning, which Spark recognizes as satisfying every
  * downstream distribution (groupBy keys are a superset of the window
  * partition key), so the whole history build is a single exchange of
  * (id, ts, value) triples — no per-version joins, nothing collected.
  * Long-history entities are bounded by the log itself (versions ≤
  * observations); there is no cross-entity state.
  */
object Scd2 {

  /** Build the SCD2 history table.
    *
    * @param log      observation log
    * @param idCol    entity key column
    * @param tsCol    observation timestamp column
    * @param valCol   tracked attribute column
    * @param tieCol   deterministic order tie-break within equal
    *                 timestamps (e.g. an event id) — REQUIRED so runs,
    *                 and therefore version numbering, are reproducible
    *                 under re-partitioning
    * @return one row per version:
    *         (id, value, version, effective_from, effective_to,
    *         n_obs, is_current)
    */
  def history(log: DataFrame, idCol: String, tsCol: String,
              valCol: String, tieCol: String): DataFrame = {
    val byObs = Window.partitionBy(col(idCol))
      .orderBy(col(tsCol), col(tieCol))
    val changed: Column = coalesce(
      col(valCol) =!= lag(col(valCol), 1).over(byObs), lit(true))
    val runs = log
      .select(col(idCol), col(tsCol), col(tieCol), col(valCol))
      // explicit ROWS frame: the default RANGE frame would tie-group
      // equal (ts, tie) pairs; tie uniqueness makes them equivalent,
      // but ROWS keeps the contract explicit (cf. TimeSeries.sessionize)
      .withColumn("run_id",
        sum(when(changed, 1L).otherwise(0L)).over(
          byObs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val byVersion = Window.partitionBy(col(idCol)).orderBy(col("run_id"))
    runs
      .groupBy(col(idCol), col("run_id"))
      .agg(min(col(valCol)).as(valCol), // all equal within a run; min is order-insensitive
        min(col(tsCol)).as("effective_from"),
        count(lit(1)).as("n_obs"))
      .withColumn("effective_to",
        lead(col("effective_from"), 1).over(byVersion))
      .select(col(idCol), col(valCol), col("run_id").as("version"),
        col("effective_from"), col("effective_to"), col("n_obs"),
        col("effective_to").isNull.as("is_current"))
  }

  /** Incremental SCD2 maintenance: fold a NEW observation batch into an
    * existing [[history]] table without touching unaffected entities —
    * the dimension-history analog of [[Dedup.mergeMinhashIndex]]'s
    * index maintenance.
    *
    * Contract (standard append-only ingest): every new observation's
    * timestamp is ≥ the entity's last `effective_from`. Under it, the
    * stored runs are a lossless prefix — each version row re-enters the
    * run collapse as one pseudo-observation of weight `n_obs` at its
    * `effective_from`, new observations follow, and adjacent equal
    * values re-collapse (so a batch continuing the current value
    * EXTENDS the open version, preserving its original
    * `effective_from`). Result is row-identical to a full [[history]]
    * rebuild over old ∪ new observations (spec-asserted). Late
    * observations violating the contract belong in a full rebuild.
    *
    * Scale shape: untouched entities pass through with one semi/anti
    * join on the entity key (no window, no re-aggregation); the window
    * machinery runs only over touched entities' version rows + the
    * batch — cost ∝ delta, never ∝ the dimension's history. */
  def applyIncrement(history: DataFrame, newObs: DataFrame, idCol: String,
                     tsCol: String, valCol: String, tieCol: String): DataFrame = {
    val touched = newObs.select(col(idCol)).distinct()
    val keep = history.join(touched, Seq(idCol), "left_anti")
    // version rows of touched entities → weighted pseudo-observations;
    // a NULL tie sorts before any real tie-break at an equal timestamp,
    // keeping the stored run's boundary stable
    val pseudo = history.join(touched, Seq(idCol), "left_semi")
      .select(col(idCol), col("effective_from").as(tsCol),
        lit(null).cast("long").as("tie"), col(valCol), col("n_obs"))
    val fresh = newObs.select(col(idCol), col(tsCol),
      col(tieCol).cast("long").as("tie"), col(valCol), lit(1L).as("n_obs"))
    val byObs = Window.partitionBy(col(idCol))
      .orderBy(col(tsCol).asc, col("tie").asc_nulls_first)
    val changed: Column = coalesce(
      col(valCol) =!= lag(col(valCol), 1).over(byObs), lit(true))
    val runs = pseudo.unionByName(fresh)
      .withColumn("run_id",
        sum(when(changed, 1L).otherwise(0L)).over(
          byObs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val byVersion = Window.partitionBy(col(idCol)).orderBy(col("run_id"))
    val rebuilt = runs
      .groupBy(col(idCol), col("run_id"))
      .agg(min(col(valCol)).as(valCol),
        min(col(tsCol)).as("effective_from"),
        sum(col("n_obs")).as("n_obs"))
      .withColumn("effective_to",
        lead(col("effective_from"), 1).over(byVersion))
      .select(col(idCol), col(valCol), col("run_id").as("version"),
        col("effective_from"), col("effective_to"), col("n_obs"),
        col("effective_to").isNull.as("is_current"))
    keep.unionByName(rebuilt)
  }

  /** Point-in-time lookup against a [[history]] table — "what was this
    * entity's state when the fact happened?", the temporal-join half of
    * the SCD2 contract (the other half is building the history).
    *
    * Each fact row matches the version whose half-open validity range
    * `[effective_from, effective_to)` contains the fact timestamp
    * (`effective_to IS NULL` = the open current version). Ranges within
    * an entity are disjoint by construction, so a fact at or after the
    * entity's first observation matches EXACTLY one version; facts
    * before it (or for unknown entities) keep a NULL state — left-join
    * semantics, mirroring the reference's miss-tolerant dim lookups
    * (reference: src/sinks/pbi/refresh/derive/index.ts:104-116).
    *
    * Scale shape: one equi-join shuffle on the entity key with the
    * range containment as a post-join residual filter — versions per
    * entity are bounded by that entity's own observation count, so the
    * per-key fan-out is the entity's version count, never a cross
    * product. No interval explosion, no broadcast of the (potentially
    * dimension-sized) history.
    *
    * @return every fact column, then the history's non-key columns
    */
  def pointInTime(history: DataFrame, facts: DataFrame, idCol: String,
                  tsCol: String): DataFrame = {
    val h = history.alias("h")
    val f = facts.alias("f")
    val contained =
      col(s"f.$idCol") === col(s"h.$idCol") &&
        col(s"f.$tsCol") >= col("h.effective_from") &&
        (col("h.effective_to").isNull ||
          col(s"f.$tsCol") < col("h.effective_to"))
    f.join(h, contained, "left")
      .select(facts.columns.toIndexedSeq.map(c => col(s"f.$c")) ++
        history.columns.filterNot(_ == idCol).map(c => col(s"h.$c")): _*)
  }
}
