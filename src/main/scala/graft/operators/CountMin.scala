package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode/Muthukrishnan '05) in TABLE form — point
  * frequency estimates for EVERY item of an unbounded key space in
  * `depth × width` counters, the complement of [[graft.functions
  * .TopKFreq]] (which keeps only the top-k): "how often does THIS
  * token/url/user appear" without materializing the full (item, count)
  * table. Estimates never undercount; each row of hashes can only
  * collide items INTO a counter, and the min over rows takes the
  * least-damaged one (est ∈ [true, true + collisions]).
  *
  * Spark-first representation — the sketch IS a DataFrame of
  * (d, slot, cnt) rows, like [[QuantileSketch]]'s bucket table, not an
  * opaque binary blob:
  *   - BUILD is one explode (×depth, CPU only) + one aggregate whose
  *     map-side combine bounds the shuffle at `depth·width` rows per
  *     partition — input volume never shuffles, the defining property
  *     of a sketch build at 100 TB;
  *   - MERGE across epochs/partitions is bucket-wise addition (union +
  *     re-aggregate), order-independent and BIT-EQUAL to a single
  *     pass — pinned in the gate itself;
  *   - PERSISTENCE is any table sink (two [[graft.sinks.ManifestTable]]
  *     versions in the gate);
  *   - the hash is the repo-wide md5-derived [[Dedup.hash32]], so a
  *     DuckDB oracle reproduces the ENTIRE sketch — collisions and
  *     all — making estimates exactly checkable, not just bounded.
  *
  * `width`/`depth` are the sketch's identity: estimates must use the
  * same values the sketch was built with (parameter mismatch would
  * probe wrong slots — keep them with the table, as the gate does
  * via its constants).
  */
object CountMin {

  /** Row-of-hashes slot for an item: hash32(item|d) mod width. */
  private def slot(item: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column,
                   width: Int): org.apache.spark.sql.Column =
    pmod(Dedup.hash32(concat(item, lit("|"), d.cast("string"))), lit(width.toLong))

  /** Build the sketch table (d, slot, cnt) over one item column.
    * NULL items are skipped (SQL aggregate convention). */
  def sketch(items: DataFrame, itemCol: String,
             width: Int, depth: Int): DataFrame = {
    require(width >= 1 && depth >= 1, "width and depth must be positive")
    items.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("_cm_item"),
        explode(array((0 until depth).map(d => lit(d)): _*)).as("d"))
      .select(col("d"), slot(col("_cm_item"), col("d"), width).as("slot"))
      .groupBy(col("d"), col("slot"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Bucket-wise fold of independently built sketches (same width and
    * depth) — order-independent, equal to one pass over the union. */
  def mergeSketches(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "merge at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy(col("d"), col("slot"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Point estimates for the probe items: min over hash rows of the
    * probed counter (0 when a slot was never hit — the item provably
    * never appeared). One |probes|·depth-row join against the
    * depth·width-row sketch (broadcast — the sketch is tiny by
    * construction). Output: (item, est), est ≥ the true count. */
  def estimates(sk: DataFrame, probes: DataFrame, itemCol: String,
                width: Int, depth: Int): DataFrame = {
    require(width >= 1 && depth >= 1, "width and depth must be positive")
    probes.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("item")).distinct()
      .select(col("item"),
        explode(array((0 until depth).map(d => lit(d)): _*)).as("d"))
      .withColumn("slot", slot(col("item"), col("d"), width))
      .join(broadcast(sk), Seq("d", "slot"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
