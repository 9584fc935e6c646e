package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale patterns for skew and co-location — the knobs that decide
  * whether a plan survives a 100× scale-up (builder brief: "salting for
  * skew, bucketing for co-located joins").
  *
  *  - saltedAgg: two-phase aggregation for skewed group keys. Phase 1
  *    aggregates (key, salt) partitions — hot keys fan out over `salt`
  *    reducers; phase 2 merges the per-salt partials. Only works for
  *    algebraic aggregates (sum/count/min/max); AQE's skew handling
  *    covers joins, but aggregation skew needs this.
  *  - saltedBroadcastableJoin: explicit salt column pair for joining a
  *    skewed fact key against a replicated dim when the dim side is too
  *    big to broadcast whole but small enough to replicate `salt` ways.
  *  - bucketedTable: write/read a bucketed table so repeated equi-joins
  *    and aggregations on the bucket key skip the shuffle entirely.
  */
object Scale {

  /** Scale-adaptive scan spreading for heavy per-row pipelines (guide
    * §2.5 "input skew: one huge unsplittable file … repartition
    * immediately after the read"): when the planned scan has FEWER
    * partitions than the session's parallelism (a single small file, a
    * gzip member, one hot partition), per-row work placed before the
    * first exchange — shingle/gram hashing, normalization — runs on
    * that handful of tasks no matter how many cores exist. One cheap
    * deterministic hash repartition of the (small, pre-explode) doc
    * rows moves the heavy projection AFTER an exchange so it
    * parallelizes; keying it by the document id means a downstream
    * window/groupBy on the same key reuses the partitioning instead
    * of adding its own exchange. At scale the scan already carries ≥
    * parallelism partitions and this is the identity — no extra
    * shuffle ever appears on a big input. The probe (`rdd
    * .getNumPartitions`) only PLANS the scan; no job runs. */
  def spreadSmallScan(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val parts =
      try df.rdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => target }
    if (parts < target) df.repartition(target, col(key)) else df
  }

  /** Two-phase salted count/sum over a skewed key.
    * Output: key, cnt, total (same as groupBy(key).agg(count, sum)). */
  def saltedAgg(df: DataFrame, key: String, valueCol: String,
                saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(saltBuckets)))
    val partial = salted.groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_cnt"), sum(col(valueCol)).as("_sum"))
    partial.groupBy(col(key))
      .agg(sum(col("_cnt")).as("cnt"), sum(col("_sum")).as("total"))
  }

  /** Salted equi-join: fact side gets a random salt in [0, n); the dim
    * side is replicated n× with every salt value. Join key becomes
    * (key, salt) — a hot fact key spreads over n reducers. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltBuckets: Int = 8): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(saltBuckets)))
    val replicatedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFact.join(replicatedDim, Seq(key, "_salt")).drop("_salt")
  }

  /** Write a bucketed+sorted table; later equi-joins/aggs on `key`
    * against tables bucketed the same way need no shuffle
    * (`spark.sql.sources.bucketing.enabled`, on by default). */
  def writeBucketed(df: DataFrame, tableName: String, key: String,
                    buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(tableName)

  /** Shuffle-skew diagnostic for a prospective join/aggregation key:
    * one row — n_keys, n_rows, max_n (the hottest key's rows), exact
    * rank-based p50/p99 of the per-key distribution, and the hottest
    * key's share of all rows. max_n/p50_n ≫ 1 is the "salt this or
    * let AQE split it" signal BEFORE the job dies, not after.
    *
    * The quantiles are exact but need NO single-task sort: the per-key
    * count table gets a dense global rank via [[Ids.withSequentialIds]]
    * (range sort + offsets), the 1-row totals broadcast, and the two
    * target ranks (⌈p·n_keys⌉, ties on key — engine-independent) are a
    * codegen filter. Everything after the groupBy is proportional to
    * |keys|, never |rows|. */
  def skewReport(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(count(lit(1)).as("nk"),
      sum(col("n")).as("nr"), max(col("n")).as("mx"))
    val ranked = Ids.withSequentialIds(counts, Seq("n", "key"), "_rk")
    ranked.crossJoin(broadcast(tot))
      .filter(col("_rk") === ceil(lit(0.5) * col("nk")).cast("long") ||
        col("_rk") === ceil(lit(0.99) * col("nk")).cast("long"))
      .groupBy()
      .agg(first(col("nk")).as("n_keys"), first(col("nr")).as("n_rows"),
        first(col("mx")).as("max_n"),
        max(when(col("_rk") === ceil(lit(0.5) * col("nk")).cast("long"),
          col("n"))).as("p50_n"),
        max(when(col("_rk") === ceil(lit(0.99) * col("nk")).cast("long"),
          col("n"))).as("p99_n"))
      .withColumn("top_share",
        round(col("max_n").cast("double") / col("n_rows"), 4))
  }
}
