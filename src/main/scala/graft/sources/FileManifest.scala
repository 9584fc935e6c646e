package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental file-discovery manifest — the idempotent-ingest
  * primitive (the pattern behind cloud auto-loaders): a pipeline run
  * lists the landing directory, anti-joins against the manifest of
  * already-processed files, processes ONLY the new ones, and commits
  * them to the manifest as a new epoch. Re-running after a crash
  * re-selects exactly the uncommitted files; nothing is processed
  * twice, nothing is skipped.
  *
  * The manifest itself is a tiny parquet table of (path, size, epoch)
  * — one row per ingested FILE, not per record, so it stays listable
  * at any corpus size. Commits append a new epoch directory
  * (`epoch=N/`), never rewriting previous epochs: the
  * delete-then-write non-atomicity of parquet overwrite cannot corrupt
  * history, and a torn commit is invisible (readers see only fully
  * written epoch files; re-listing re-offers the same new files).
  *
  * Identity is (path, size): a re-landed file with the same path but
  * different size re-qualifies as new — the caller decides whether
  * that is a re-process or an error.
  */
object FileManifest {

  private val Schema = "path STRING, size BIGINT, epoch BIGINT"

  /** The committed manifest (empty with the right schema when absent). */
  def manifest(spark: SparkSession, manifestPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema(Schema).parquet(manifestPath)
    else
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(Schema))
  }

  /** One row per data file currently in the landing dir: (path, size).
    * Driver-side listing — file counts are bounded by the layout
    * (ParquetSink caps files/partition); record counts are not.
    *
    * The walk lists each directory with `listStatus`. `listFiles(p,
    * true)` would build a `LocatedFileStatus` per file, which reads the
    * file's permissions: on a local filesystem without the native
    * library, that forks an `ls -ld` per file. */
  def listFiles(spark: SparkSession, landingDir: String,
                suffix: String = ".parquet"): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(landingDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hidden-ness is decided on every path component BELOW the landing
    // dir, not just the leaf name: a hidden directory (a crashed
    // writer's `.stage-*`, a `_temporary`) can hold part-*.parquet files
    // a leaf-only filter would list — and spark.read.parquet correctly
    // ignores — so listing them here would serve duplicate rows. The
    // walk never enters a hidden directory.
    def hidden(f: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = f.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    def walk(dir: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).iterator.filterNot(hidden).flatMap { f =>
        if (f.isDirectory) walk(f.getPath) else Iterator(f)
      }
    val rows = walk(p).filter(_.getPath.getName.endsWith(suffix))
      .map(f => (f.getPath.toUri.getPath, f.getLen)).toSeq
    val spk = spark
    import spk.implicits._
    rows.toDF("path", "size")
  }

  /** Files in the landing dir not yet committed to the manifest. */
  def newFiles(spark: SparkSession, landingDir: String,
               manifestPath: String, suffix: String = ".parquet"): DataFrame =
    listFiles(spark, landingDir, suffix)
      .join(manifest(spark, manifestPath).select(col("path"), col("size")),
        Seq("path", "size"), "left_anti")

  /** Commit a batch of files as the next epoch (append-only). */
  def commit(spark: SparkSession, manifestPath: String,
             files: DataFrame): Unit = {
    val next = manifest(spark, manifestPath)
      .agg(coalesce(max(col("epoch")), lit(-1L)) + 1L).head().getLong(0)
    files.select(col("path"), col("size"), lit(next).as("epoch"))
      .coalesce(1)
      .write.mode("append").parquet(manifestPath)
  }
}
