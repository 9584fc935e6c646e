package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file column statistics — the metadata layer that makes a
  * 100 TB table scannable: one tiny row per FILE (min/max/null-count
  * per tracked column + row count), so a range predicate can discard
  * whole files before Spark ever opens them. This is the stats half
  * of the lakehouse-table pattern (Delta/Iceberg file-level
  * `minValues`/`maxValues`); the rows ARE a manifest table's entries
  * ([[graft.sinks.ManifestTable]] — for a plain directory, its
  * `adopt`ed mirror), and the helpers here are pure functions over a
  * frame of that shape:
  *
  *   - [[collect]] / [[collectFor]] / [[collectFooters]] build the rows;
  *   - [[candidateFilesAll]] is the sound prune set for a conjunction
  *     of ranges;
  *   - [[tableSummary]] answers whole-table aggregates from them.
  *
  * Pruning is SOUND, never assumed complete: a kept file may hold rows
  * outside the range (the row filter handles them) but no file holding
  * a matching row is ever dropped — `max < lo || min > hi` can only be
  * true when every value in the file misses the range, and an all-null
  * file (NULL min/max → NULL comparison → filtered out) cannot match a
  * range predicate, which rejects NULL by SQL semantics. The win is
  * proportional to layout quality: data written via
  * [[graft.sinks.ParquetSink]]'s range or Z-order writers yields files
  * with narrow, disjoint min/max envelopes — on a day-ranged layout a
  * one-day query opens ~1/days of the files. The stats table itself is
  * |files| rows — metadata scale — so the driver-side path collection
  * here is bounded by the same argument as [[FileManifest.listFiles]].
  */
object FileStats {

  /** Stats for every file in a parquet directory: one scan, grouped by
    * `input_file_name()` — distributed, no per-file driver loop. */
  def collect(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    statsOf(spark.read.parquet(dir), cols)

  /** Stats for an explicit file list: cost ∝ those files, not the
    * table. */
  def collectFor(spark: SparkSession, files: Seq[String],
                 cols: Seq[String]): DataFrame =
    statsOf(spark.read.parquet(files: _*), cols)

  private[graft] def statsOf(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "track at least one column")
    val aggs = count(lit(1)).as("row_count") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))
    }
    df.groupBy(input_file_name().as("path")).agg(aggs.head, aggs.tail: _*)
  }

  /** Stats from parquet FOOTERS only — no data pages are read. At
    * 100 TB a stats-collection scan costs as much as the query it is
    * meant to save, so the production path is this one: each task
    * opens its files' footers (a few KB each, already holding per-
    * row-group min/max/null-count written at ingest time) and folds
    * them to the same one-row-per-file shape as [[collect]]. Cost is
    * |files| footer reads, distributed over the cluster, independent
    * of data volume.
    *
    * Honesty rules for writer-omitted stats (the reason
    * [[candidateFilesAll]] is proof-based): if ANY row group of a file
    * lacks usable stats for a column, that column's min/max/nulls are
    * emitted as NULL — "unknown", which pruning must keep — never as
    * a partial fold that would claim a narrower envelope than the
    * data's. Row counts come from block metadata and are always exact.
    *
    * `schema` is the table's Spark schema (probe one file with
    * `spark.read.parquet(f).schema`); supported tracked-column types
    * are boolean/int/long/float/double/string/date/timestamp(_ntz) —
    * the orderable primitives parquet records stats for. */
  def collectFooters(spark: SparkSession, files: Seq[String],
                     schema: org.apache.spark.sql.types.StructType,
                     cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    require(cols.nonEmpty, "track at least one column")
    cols.foreach { c =>
      val dt = schema(c).dataType
      require(FooterStats.supported(dt),
        s"footer stats for $c: unsupported type ${dt.catalogString}")
    }
    val statsSchema = StructType(
      StructField("path", StringType, nullable = false) +:
      StructField("row_count", LongType, nullable = false) +:
      cols.flatMap { c =>
        val dt = schema(c).dataType
        Seq(StructField(s"${c}_min", dt), StructField(s"${c}_max", dt),
          StructField(s"${c}_nulls", LongType))
      })
    val colTypes = cols.map(c => c -> schema(c).dataType)
    // Configuration isn't serializable; ship it as entries and rebuild
    // per task (the iterator already includes resolved defaults)
    val confKv = {
      import scala.jdk.CollectionConverters._
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    val bconf = spark.sparkContext.broadcast(confKv)
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    val rows = spark.sparkContext.parallelize(files, slices).map { path =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      bconf.value.foreach { case (k, v) => conf.set(k, v) }
      FooterStats.fileRow(path, conf, colTypes)
    }
    spark.createDataFrame(rows, statsSchema)
  }

  /** Table-level aggregates answered from the stats rows ALONE —
    * zero data I/O, the Iceberg/Delta "COUNT(*) from the manifest"
    * ergonomics: Σ row_count is the exact table count, min of
    * per-file mins / max of per-file maxes the exact extrema, and
    * Σ per-file null counts the exact null count. Exactness holds
    * whenever the stats cover exactly the live file set (a manifest
    * table's invariant) and the rows were collected exactly
    * ([[collect]] / [[collectFor]]). Footer stats keep the honesty
    * rules instead: a writer-omitted column
    * folds to NULL min/max — "unknown", never a narrower claim — and
    * NULL-aggregating min/max then skips that file, so on
    * footer-built stats treat a NULL summary cell as unknown (row
    * counts come from block metadata and stay exact either way).
    * Output: one row — row_count, then per col c: c_min, c_max,
    * c_nulls. */
  def tableSummary(stats: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "summarize at least one column")
    val aggs = sum(col("row_count")).as("row_count") +: cols.flatMap { c =>
      Seq(min(col(s"${c}_min")).as(s"${c}_min"),
        max(col(s"${c}_max")).as(s"${c}_max"),
        sum(col(s"${c}_nulls")).as(s"${c}_nulls"))
    }
    stats.agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose [min,max] envelopes intersect EVERY [lo,hi] of
    * `ranges` — the sound-prune set for a conjunction of BETWEENs. A
    * file is dropped only on PROOF it cannot match: an envelope
    * provably misses its range, or every row is null (a range
    * predicate rejects NULL). NULL min/max with an unknown null count
    * — footer stats a writer didn't record ([[collectFooters]]) —
    * keeps the file: unknown is never treated as absent. The
    * null-safe `<=>` makes each proof explicit rather than relying on
    * three-valued filter semantics. On a Z-order layout
    * ([[graft.sinks.ParquetSink]]) each interleaved dimension has a
    * narrow envelope, so a 2-D range query prunes multiplicatively —
    * the case single-column range layouts can't serve. */
  def candidateFilesAll(stats: DataFrame,
                        ranges: Seq[(String, Column, Column)]): DataFrame = {
    require(ranges.nonEmpty, "give at least one range")
    val keep = ranges.map { case (c, lo, hi) =>
      val misses  = (col(s"${c}_max") < lo) || (col(s"${c}_min") > hi)
      val allNull = col(s"${c}_nulls") === col("row_count")
      !(misses <=> lit(true)) && !(allNull <=> lit(true))
    }.reduce(_ && _)
    stats.filter(keep).select(col("path"))
  }
}
