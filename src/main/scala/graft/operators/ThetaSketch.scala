package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted mergeable KMV/theta sketches — the SET-OPERATION
  * counterpart of the HLL epochs in [[Sketches]]: HLL answers "how many
  * distinct per group", KMV additionally answers "how many distinct in
  * the INTERSECTION / UNION of two groups" from the sketches alone
  * (audience overlap, segment reach, cross-table key containment — the
  * questions that otherwise need a distinct-distinct join over raw
  * history). Kernel: [[graft.functions.KmvAgg]] (k smallest distinct
  * 63-bit hashes; bounded map-side state, order-independent merges,
  * deterministic estimates — see its doc for the estimator).
  *
  * 100 TB shape: sketch rows are |groups| × k·8 bytes; epoch folds and
  * set-op estimates never touch raw data. Pairwise merge is pure
  * column algebra (`array_union` + sort + slice — exact by the bottom-k
  * invariant); multi-epoch folds are one [[graft.functions
  * .KmvUnionAgg]] pass. Persistence commits through
  * [[graft.sinks.ManifestTable]] so readers survive re-folds.
  */
object ThetaSketch {

  /** 2^63 as a double — the hash space the 63-bit values are uniform
    * over; θ/HashSpace is the sampling fraction. */
  private val HashSpace = 9.223372036854776e18

  private def callK(fn: String, c: Column, k: Int): Column =
    call_function(fn, c, lit(k))

  /** Per-group KMV sketch of distinct `keyCol` values (any type —
    * hashed with xxhash64). Output: (`groupCol`, `kmv` array<bigint>
    * ascending). */
  def sketchBy(df: DataFrame, groupCol: String, keyCol: String,
               k: Int): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(df.sparkSession)
    df.groupBy(col(groupCol))
      .agg(callK("kmv_agg", xxhash64(col(keyCol)), k).as("kmv"))
  }

  /** Merge two epochs' sketch tables on `groupCol`: bottom-k of the
    * value union where both sides exist — pure column algebra, exact
    * (a set's minima below its θ cover all union minima it owes). */
  def mergeEpochs(a: DataFrame, b: DataFrame, groupCol: String,
                  k: Int): DataFrame =
    a.select(col(groupCol), col("kmv").as("ka"))
      .join(b.select(col(groupCol), col("kmv").as("kb")),
        Seq(groupCol), "full_outer")
      .select(col(groupCol),
        when(col("ka").isNull, col("kb"))
          .when(col("kb").isNull, col("ka"))
          .otherwise(slice(array_sort(array_union(col("ka"), col("kb"))),
            1, k)).as("kmv"))

  /** One-pass fold of MANY epochs' sketch rows (a whole history in one
    * aggregation): group + [[graft.functions.KmvUnionAgg]]. */
  def foldEpochs(epochs: DataFrame, groupCol: String, k: Int): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(epochs.sparkSession)
    epochs.groupBy(col(groupCol))
      .agg(callK("kmv_union_agg", col("kmv"), k).as("kmv"))
  }

  /** Distinct-count estimate: exact size below saturation, else the
    * standard KMV estimator (k−1)/θ_frac. Deterministic per input set. */
  def estimate(kmv: Column, k: Int): Column =
    when(size(kmv) < k, size(kmv).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(HashSpace) /
        element_at(kmv, k).cast("double"))

  /** The sketch's sampling threshold θ: kth minimum when saturated,
    * else the full hash space (exact mode). */
  private def theta(kmv: Column, k: Int): Column =
    when(size(kmv) < k, lit(HashSpace))
      .otherwise(element_at(kmv, k).cast("double"))

  /** |A∩B| estimate: common values below θ = min(θ_A, θ_B), scaled by
    * the sampling fraction. Exact when both sketches are unsaturated. */
  def intersectEstimate(a: Column, b: Column, k: Int): Column = {
    val th = least(theta(a, k), theta(b, k))
    val common = size(array_intersect(
      filter(a, v => v.cast("double") < th),
      filter(b, v => v.cast("double") < th)))
    common.cast("double") * lit(HashSpace) / th
  }

  /** |A∪B| estimate: estimate of the pairwise-merged sketch. */
  def unionEstimate(a: Column, b: Column, k: Int): Column =
    estimate(slice(array_sort(array_union(a, b)), 1, k), k)

  /** Commit a sketch fold as one [[graft.sinks.ManifestTable.save]]
    * version — always readable through re-folds. */
  def commitSketches(sketches: DataFrame, root: String): Long =
    graft.sinks.ManifestTable.save(sketches, root)

  /** Read of the committed fold. */
  def readSketches(spark: SparkSession, root: String): DataFrame =
    graft.sinks.ManifestTable.read(spark, root)
}
