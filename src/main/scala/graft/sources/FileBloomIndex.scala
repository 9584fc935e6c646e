package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** Per-file Bloom membership filters — the EQUALITY complement of
  * [[FileStats]]' min/max envelopes. A range predicate prunes files by
  * envelope, but an equality probe on a high-cardinality key (doc id,
  * fingerprint, uuid) almost never excludes a file by range on an
  * unsorted layout: every file's [min, max] spans the probe. One Bloom
  * filter per file over the key column gives each file a compact
  * membership summary, so a point lookup opens only the files that
  * MIGHT contain the key — the Delta/Iceberg bloom-index pattern on
  * plain parquet, built on the same [[graft.functions.BloomFilter]]
  * kernel (and bit layout) as the dedup runtime filters.
  *
  * Soundness: Bloom filters have no false negatives, so pruning can
  * only SKIP files that provably lack the key; false positives cost an
  * extra file read, corrected by the exact post-read filter. NULL keys
  * are never indexed and NULL probes are rejected — SQL equality can't
  * select them anyway.
  *
  * Scale shape: the build is one grouped aggregate per file batch
  * (map-side, bloom state `numBits/8` bytes per file). The bits live
  * in the manifest entries of a [[graft.sinks.ManifestTable]]
  * ([[graft.sinks.ManifestTable.buildBloom]] fills them for the files
  * that have none), so they version, vacuum, clone and time-travel
  * with the file list they describe.
  */
object FileBloomIndex {

  /** Build filter rows (path, bloom, row_count) for an explicit file
    * batch of (path, size) pairs: cost ∝ those files, not the table.
    * The pairs are the scan's listing: a path list handed to
    * `spark.read.parquet` starts a listing job past 32 paths. `key` is
    * read with its declared type, so files written under a narrower
    * type (before a widening) hash the values a probe of the declared
    * type hashes. */
  def buildFor(spark: SparkSession, files: Seq[(String, Long)],
               key: StructField, numBits: Int = 1 << 17,
               numHashes: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val schema = StructType(Seq(key))
    spark.baseRelationToDataFrame(HadoopFsRelation(
        new graft.sources.v2.GraftManifestFileIndex(spark, "", files, 0L,
          schema, None),
        StructType(Nil), schema, None, new ParquetFileFormat, Map.empty)(spark))
      .groupBy(input_file_name().as("path"))
      .agg(graft.functions.VectorExpressions
        .bloomBuild(xxhash64(col(key.name)), numBits, numHashes).as("bloom"),
        count(lit(1)).as("row_count"))
  }

  /** Whether the filter `bits` might hold any of the probe keys. */
  private[graft] def mightContain(bits: Column, keys: Seq[Column]): Column = {
    require(keys.nonEmpty, "probe at least one key")
    keys.map(k => graft.functions.VectorExpressions
      .bloomMightContain(bits, xxhash64(k))).reduce(_ || _)
  }

  /** Files that MIGHT contain any of the probe keys (no false
    * negatives; fpp-bounded false positives). */
  def candidateFiles(index: DataFrame, keys: Seq[Column]): DataFrame =
    index.filter(mightContain(col("bloom"), keys)).select(col("path"))
}
