package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file Bloom membership indexes — the EQUALITY complement of
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
  * (map-side, bloom state `numBits/8` bytes per file); the index is
  * one row per file (metadata-scale, like the manifest) and commits
  * as [[graft.sinks.VersionedTable]] epochs: a full build replaces
  * the epoch, a delta upserts by path through the epoch table's
  * read-modify-write CAS loop. [[graft.sinks.ManifestTable.buildBloom]]
  * maintains one beside a manifest table (adopted directories
  * included), indexing only the files it lacks.
  */
object FileBloomIndex {

  /** Build index rows (path, bloom, row_count) for an explicit file
    * batch: cost ∝ those files, not the table. */
  def buildFor(spark: SparkSession, files: Seq[String], keyCol: String,
               numBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    spark.read.parquet(files: _*).groupBy(input_file_name().as("path"))
      .agg(graft.functions.VectorExpressions
        .bloomBuild(xxhash64(col(keyCol)), numBits, numHashes).as("bloom"),
        count(lit(1)).as("row_count"))
  }

  /** Commit a FULL build: REPLACES the epoch, so rows from a previous
    * generation cannot survive. `keyType` — the catalog string of the
    * key column's type the bits hash — rides in the epoch's record. */
  def commitFull(index: DataFrame, root: String, keyType: String): Long =
    graft.sinks.VersionedTable.write(index, root,
      com.fasterxml.jackson.databind.node.TextNode.valueOf(keyType))

  /** Upsert a DELTA batch ([[buildFor]] over files the index lacks)
    * into the committed epoch: new files insert, a same-path row is
    * replaced. The index must exist ([[commitFull]] bootstraps it).
    * Rows for files since deleted stay, and exclude nothing from a
    * listing they do not appear in. Racing deltas serialize through
    * the CAS loop, so neither is lost. Cost ∝ the index (one epoch
    * rewrite of |files| rows). */
  def commitDelta(index: DataFrame, root: String, keyType: String): Long =
    graft.sinks.VersionedTable.rewriteLoop(index.sparkSession, root,
      com.fasterxml.jackson.databind.node.TextNode.valueOf(keyType)) { base =>
      val cur = graft.sinks.VersionedTable
        .readVersion(index.sparkSession, root, base)
      cur.join(index.select(col("path")).distinct(), Seq("path"), "left_anti")
        .unionByName(index)
        .select(cur.columns.toIndexedSeq.map(col): _*)
    }

  /** The key type index epoch `version` was built against; None when
    * its record names none. */
  def keyType(spark: SparkSession, root: String,
              version: Long): Option[String] =
    Option(graft.sinks.VersionedTable.record(spark, root, version).meta
      .textValue)

  def read(spark: SparkSession, root: String): DataFrame =
    graft.sinks.VersionedTable.read(spark, root)

  /** Files that MIGHT contain any of the probe keys (no false
    * negatives; fpp-bounded false positives). */
  def candidateFiles(index: DataFrame, keys: Seq[Column]): DataFrame = {
    require(keys.nonEmpty, "probe at least one key")
    val hits = keys.map(k => graft.functions.VectorExpressions
      .bloomMightContain(col("bloom"), xxhash64(k))).reduce(_ || _)
    index.filter(hits).select(col("path"))
  }
}
