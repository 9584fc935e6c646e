package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted mergeable distinct-count sketches — the sketch-epoch
  * analog of the MinHash index ([[Dedup.saveMinhashIndex]]): each
  * ingest epoch aggregates its keys into per-group HLL sketches
  * (Apache DataSketches via Spark's `hll_sketch_agg`), persists the
  * fixed-size blobs, and any later consumer answers "distinct keys per
  * group across epochs so far" by OR-merging blobs — never by
  * re-scanning raw history.
  *
  * Why this is the 100 TB shape: an exact incremental COUNT(DISTINCT)
  * must either keep the full key set per group (state ∝ distinct keys)
  * or re-shuffle all history per refresh. The sketch keeps
  * O(2^lgK) ≈ 4 KB per group regardless of cardinality, unions are
  * register-wise max (associative, commutative, order-independent —
  * re-merging epochs in any order gives bit-identical sketches), and
  * the merge job's input is |groups|·4 KB, not the corpus.
  *
  * Estimates are deterministic for a given input SET (HLL state is
  * insertion-order independent), so a bounded-relative-error gate can
  * hash-compare a within-tolerance flag against an exact oracle — the
  * q_occupancy_approx pattern.
  */
object Sketches {

  /** Per-(group, day) HLL sketch of distinct `keyCol` values.
    * `lgK = 12` → ~0.8% relative standard error, 4 KB max per row. */
  def dailySketches(df: DataFrame, dayCol: String, keyCol: String,
                    lgK: Int = 12): DataFrame =
    df.groupBy(col(dayCol).as("bucket_day"))
      .agg(hll_sketch_agg(col(keyCol), lgK).as("sketch"))

  /** Save an epoch's sketch table (tiny: |groups| fixed-size rows). */
  def saveSketches(sketches: DataFrame, path: String): Unit =
    sketches.write.mode("overwrite").parquet(path)

  def loadSketches(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Merge two epochs' sketch tables: full-outer on the group key,
    * register-wise union where both sides exist. The result is another
    * sketch table — epochs fold associatively, so a year of dailies
    * merges in one `hll_union_agg` pass if preferred. */
  def mergeEpochs(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("bucket_day"), col("sketch").as("sk_a"))
      .join(b.select(col("bucket_day"), col("sketch").as("sk_b")),
        Seq("bucket_day"), "full_outer")
      .select(col("bucket_day"),
        when(col("sk_a").isNull, col("sk_b"))
          .when(col("sk_b").isNull, col("sk_a"))
          .otherwise(hll_union(col("sk_a"), col("sk_b"))).as("sketch"))

  /** (group, estimate) from a sketch table. */
  def estimates(sketches: DataFrame): DataFrame =
    sketches.select(col("bucket_day"),
      hll_sketch_estimate(col("sketch")).as("approx"))

  /** [[saveSketches]] as a [[graft.sinks.ManifestTable.save]] commit:
    * the rolled-up sketch table (the FOLD of all ingest epochs so far)
    * is what downstream consumers read, and it must stay readable
    * while the next fold replaces it — parquet overwrite is not
    * atomic, the manifest commit is. Returns the committed version.
    * The typical cycle: `commitSketches(mergeEpochs(readSketches(root),
    * dailySketches(newDay)), root)` — cost ∝ |groups|·4 KB, never the
    * history. */
  def commitSketches(sketches: DataFrame, root: String): Long =
    graft.sinks.ManifestTable.save(sketches, root)

  /** Read of the current committed sketch fold. */
  def readSketches(spark: SparkSession, root: String): DataFrame =
    graft.sinks.ManifestTable.read(spark, root)
}
