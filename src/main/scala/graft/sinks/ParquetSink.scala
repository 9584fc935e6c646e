package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod, shiftleft, shiftright}

/** Partitioned parquet table layout — the engine's scale-out
  * counterpart to the reference's JSONL date partitions
  * (lib/dataset.ts layout, generalized):
  *
  *  - directory partitioning on low-cardinality keys → partition
  *    PRUNING: a filtered read never lists, opens, or schedules
  *    non-matching directories (visible as `PartitionFilters` in the
  *    scan node);
  *  - `sortWithinPartitions` on the query keys → clustered row groups,
  *    so parquet min/max statistics skip row groups inside each file
  *    (`PushedFilters` actually bite instead of scanning everything);
  *  - `maxRecordsPerFile` bounds file size so a skewed partition key
  *    cannot produce one giant unsplittable-for-listing file.
  *
  * Write-side cost: one shuffle, keyed on (partition keys, salt) where
  * salt = hash(sort keys) mod `filesPerPartition` — each task writes at
  * most one file per partition value (no small-files explosion), while
  * up to `filesPerPartition` tasks share each partition value's rows.
  * Salting the shuffle key is what keeps the write DISTRIBUTED: keyed
  * on the partition columns alone, write parallelism is capped at the
  * number of distinct partition VALUES — a 4-value key funnels a 100 TB
  * write through 4 tasks (~25 TB each). `filesPerPartition` bounds the
  * file count per directory exactly, so the layout stays listable.
  */
object ParquetSink {

  def writeTable(df: DataFrame, path: String, partitionCols: Seq[String],
                 sortCols: Seq[String] = Nil,
                 maxRecordsPerFile: Long = 0L,
                 filesPerPartition: Int = 8): Unit = {
    require(partitionCols.nonEmpty, "writeTable needs at least one partition column")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    // salt over the sort keys (or every non-partition column when no
    // sort keys are given) so rows with equal sort keys land in the
    // same file and the within-file clustering is preserved
    val saltSrc: Seq[Column] =
      (if (sortCols.nonEmpty) sortCols
       else df.columns.toSeq.filterNot(partitionCols.contains)).map(col)
    val shuffleKeys = partitionCols.map(col) ++
      (if (filesPerPartition > 1 && saltSrc.nonEmpty)
        Seq(pmod(hash(saltSrc: _*), lit(filesPerPartition)))
      else Nil)
    val clustered = df
      .repartition(shuffleKeys: _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    val writer = clustered.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
    (if (maxRecordsPerFile > 0)
      writer.option("maxRecordsPerFile", maxRecordsPerFile)
    else writer).parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Small-file compaction for a partitioned [[writeTable]] layout:
    * rewrite each partition directory whose file count exceeds
    * `maxFilesPerDir` down to `targetFilesPerDir`, preserving the
    * within-file sort (`sortCols`). Partitions already compact are NOT
    * rewritten — maintenance cost ∝ fragmented partitions, not table
    * size. The rewrite goes through a fresh temp directory and a
    * directory swap per partition, so a reader never lists a
    * HALF-WRITTEN partition. The swap is TWO renames (old→aside, then
    * tmp→into-place), not one atomic operation: a reader listing the
    * table in the instant between them sees the partition directory
    * absent (rows temporarily invisible, never duplicated or torn).
    * Each rename's result is checked; a failure of the second rename
    * restores the set-aside directory so no committed rows are ever
    * stranded invisible. Renames are atomic per directory on HDFS-like
    * stores; on object stores run the whole swap under a table lock.
    *
    * Streaming ingest is the canonical producer of the problem: every
    * micro-batch appends a file per partition; after a day a hot
    * partition holds thousands of row-group-sized files and listing +
    * footer reads dominate scans. */
  def compactTable(spark: SparkSession, path: String,
                   sortCols: Seq[String] = Nil,
                   maxFilesPerDir: Int = 8,
                   targetFilesPerDir: Int = 1): Unit = {
    require(targetFilesPerDir >= 1 && maxFilesPerDir >= targetFilesPerDir,
      "need maxFilesPerDir >= targetFilesPerDir >= 1")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).filter(s => s.isDirectory &&
      s.getPath.getName.contains("="))
    parts.foreach { p =>
      val dataFiles = fs.listStatus(p.getPath).filter(f => f.isFile &&
        f.getPath.getName.endsWith(".parquet"))
      if (dataFiles.length > maxFilesPerDir) {
        val tmp = new org.apache.hadoop.fs.Path(
          p.getPath.getParent, "." + p.getPath.getName + ".compact-tmp")
        val df0 = spark.read.parquet(p.getPath.toString)
          .coalesce(targetFilesPerDir)
        (if (sortCols.nonEmpty) df0.sortWithinPartitions(sortCols.map(col): _*)
         else df0)
          .write.mode("overwrite").parquet(tmp.toString)
        val old = new org.apache.hadoop.fs.Path(
          p.getPath.getParent, "." + p.getPath.getName + ".compact-old")
        // check EVERY rename: an unchecked false from rename(tmp, live)
        // after rename(live, old) succeeded would leave the partition
        // vanished from the table — rows stranded in the hidden aside
        // dir with no error raised
        require(fs.rename(p.getPath, old),
          s"compactTable: failed to set aside ${p.getPath}")
        if (!fs.rename(tmp, p.getPath)) {
          val restored = fs.rename(old, p.getPath)
          throw new IllegalStateException(
            s"compactTable: failed to move compacted data into ${p.getPath}" +
              (if (restored) " (original directory restored)"
               else s" AND COULD NOT RESTORE $old — manual recovery needed"))
        }
        fs.delete(old, true): Unit
      }
    }
  }

  /** Morton (Z-order) interleave of two rank-bucketized columns — the
    * multi-dimensional clustering key for [[writeZOrdered]]. Each
    * column is linearly bucketized to `bits` bits from driver-resolved
    * min/max (two tiny agg jobs), then the bit-spread interleave runs
    * as plain column ops inside whole-stage codegen. */
  def zValue2(a: Column, aMin: Long, aMax: Long,
              b: Column, bMin: Long, bMax: Long, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, "zValue2 supports 1..16 bits per dim")
    def bucket(c: Column, lo: Long, hi: Long): Column = {
      val span = math.max(1L, hi - lo)
      // ((c - lo) * (2^bits - 1)) / span — monotone, endpoint-exact
      (((c - lit(lo)).cast("long") * lit((1L << bits) - 1)) / lit(span))
        .cast("long")
    }
    // classic bit-spread: x = (x | x<<8) & 0x00FF00FF; … down to
    // alternating masks — every op is a codegen'd long intrinsic
    def spread(c: Column): Column = {
      var x = c
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
      x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
      x
    }
    spread(bucket(a, aMin, aMax))
      .bitwiseOR(shiftleft(spread(bucket(b, bMin, bMax)), 1))
  }

  /** N-dimensional Morton (Z-order) interleave — [[zValue2]]
    * generalized to any number of rank-bucketized columns. Each
    * `(column, min, max)` is linearly bucketized to `bits` bits, then
    * bit j of dimension i lands at interleaved position `j*n + i`
    * (dimension 0 in the LOW bit, matching zValue2's layout). The
    * stride-2 doubling masks don't generalize to arbitrary n, so the
    * interleave is an explicit OR-chain over bit positions — n·bits
    * two-op terms, every one a codegen'd long intrinsic; for the
    * supported bound n·bits ≤ 62 that is at most ~60 terms, well
    * inside one whole-stage-codegen expression. The multi-column
    * pruning reader ([[graft.sources.FileStats.candidateFilesAll]])
    * already consumes any number of per-file envelopes, so this
    * closes the writer/reader asymmetry: box queries over n
    * dimensions prune files on every predicate column at once. */
  def zValueN(dims: Seq[(Column, Long, Long)], bits: Int): Column = {
    val n = dims.size
    require(n >= 2, "zValueN needs at least two dimensions")
    require(bits >= 1 && n * bits <= 62,
      s"zValueN supports n*bits <= 62 (got n=$n, bits=$bits)")
    def bucket(c: Column, lo: Long, hi: Long): Column = {
      val span = math.max(1L, hi - lo)
      (((c - lit(lo)).cast("long") * lit((1L << bits) - 1)) / lit(span))
        .cast("long")
    }
    dims.zipWithIndex.map { case ((c, lo, hi), i) =>
      val b = bucket(c, lo, hi)
      (0 until bits).map { j =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ordered (Morton-curve) layout write on two numeric columns —
    * multi-dimensional data skipping: range-partition + sort by the
    * interleaved key, so every FILE covers a small square-ish tile of
    * the (a, b) value space and parquet/file min-max statistics prune
    * selective predicates on EITHER column. A single-column sort gives
    * perfect skipping on that column and none on the other (each file
    * spans the other's full domain); Z-order trades a little of the
    * first column's locality for bounded ranges on both — the layout
    * choice behind Delta/Iceberg OPTIMIZE ZORDER, here as a plain
    * one-shuffle writer. SinksSpec measures the skipping property
    * directly from file-level min/max. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int, bits: Int = 16): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val mm = df.agg(
      org.apache.spark.sql.functions.min(col(colA)).cast("long"),
      org.apache.spark.sql.functions.max(col(colA)).cast("long"),
      org.apache.spark.sql.functions.min(col(colB)).cast("long"),
      org.apache.spark.sql.functions.max(col(colB)).cast("long")).head()
    val zv = zValue2(col(colA), mm.getLong(0), mm.getLong(1),
      col(colB), mm.getLong(2), mm.getLong(3), bits)
    writeByKey(df, path, zv, numFiles)
  }

  /** Equi-depth (quantile-rank) bucket index: the number of
    * `boundaries` at or below the value — 0 for the lowest bucket,
    * `boundaries.length` for the top one. Boundaries come from ONE
    * multi-column approxQuantile pass, so every bucket holds ~equal
    * DATA MASS regardless of the column's value distribution. This is
    * what makes N-column Z-order survive real (always skewed) data: a
    * linear min/max bucketization spends its bits uniformly over the
    * DOMAIN, so a long-tailed column collapses into a handful of
    * buckets and its bits stop discriminating — the curve degrades
    * toward a lower-dimensional sort. A NULL value lands in bucket 0
    * (the lambda comparison is NULL, the filter drops every boundary),
    * i.e. NULLs cluster with the low extreme instead of scattering. */
  def equiDepthBucket(c: Column, boundaries: Array[Double]): Column =
    org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.filter(
        lit(boundaries), b => b <= c.cast("double"))).cast("long")

  /** N-column space-filling-curve layout write — multi-dimensional
    * data skipping over any number of clustering columns: equi-depth-
    * bucketize each column (one shared approxQuantile job), key by the
    * HILBERT index of the bucket grid
    * ([[graft.functions.Hilbert]] — Morton's high-bit curve jumps give
    * the straddling files near-full-domain envelopes, tripling the box-
    * query candidate count in SinksSpec's measurement; Hilbert segments
    * are always compact), then ONE range shuffle + in-file sort,
    * exactly the 2-D writer's cost shape. `bits = 0` (auto) sizes the
    * grid to the
    * DATA DENSITY: the interleave only preserves locality while the
    * occupied cells are dense along the curve, so the total cell count
    * targets `min(rowCount, 64·numFiles)` — a grid much finer than the
    * row count leaves cells sparse and lets one file's contiguous
    * curve segment straddle high-bit jumps into a huge envelope, while
    * 64 tiles per file keeps resolution far below the file grain. At
    * warehouse scale the row count dominates and auto lands on the
    * 8-bit cap (256 equi-depth buckets per column, the Delta-like
    * range-id granularity); explicit `bits` is honored up to 12 so
    * the boundary arrays stay driver-trivial. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    numFiles: Int, bits: Int): Unit =
    clusterByCurve(df, cols, numFiles, bits)
      .write.mode("overwrite").parquet(path)

  /** The N-column Hilbert layout as a pure TRANSFORM — the returned
    * frame, written by ANY sink, lands curve-clustered files (shared
    * by [[writeZOrdered]] and [[graft.sinks.ManifestTable.optimize]]'s
    * curve mode, so the manifest format gets the identical
    * multi-dimensional skipping story). Same machinery as always:
    * equi-depth bucketization from one shared approxQuantile pass,
    * the codegen Hilbert index of the bucket grid as the range/sort
    * key, density-aware auto bit-width. */
  def clusterByCurve(df: DataFrame, cols: Seq[String],
                     numFiles: Int, bits: Int = 0): DataFrame = {
    require(numFiles >= 1, "numFiles must be >= 1")
    require(cols.size >= 2, "curve clustering needs at least two columns")
    require(bits <= 12, s"equi-depth z-order supports at most 12 bits/dim (got $bits)")
    val b =
      if (bits > 0) bits
      else {
        val cells = math.min(df.count(), 64L * numFiles).max(2L)
        val perDim = (math.log(cells.toDouble) / math.log(2) / cols.size).toInt
        math.max(1, math.min(perDim, math.min(8, 62 / cols.size)))
      }
    val nb = (1 << b) - 1
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    val bounds = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
      .stat.approxQuantile(cols.toArray, probs, 0.001)
    // project the bucket indices ONCE before interleaving — inlining
    // them into zValueN would replicate each boundary-array walk into
    // every one of its `bits` spread terms
    val bucketCols = cols.indices.map(i => s"_zb$i")
    val withBuckets = df.select(col("*") +:
      cols.indices.map(i =>
        equiDepthBucket(col(cols(i)), bounds(i)).as(bucketCols(i))): _*)
    graft.functions.Hilbert.ensureRegistered(df.sparkSession)
    val key = org.apache.spark.sql.functions.call_function(
      "hilbert_index", lit(b) +: bucketCols.map(col): _*)
    withBuckets.withColumn("_zv", key)
      .repartitionByRange(numFiles, col("_zv"))
      .sortWithinPartitions(col("_zv"))
      .drop("_zv" +: bucketCols: _*)
  }

  /** Curve-aware OPTIMIZE for a flat clustered directory: re-cluster
    * ALL current rows into a fresh [[writeZOrdered]] layout and swap
    * it into place. This is the maintenance step that keeps
    * multi-dimensional skipping effective under streaming ingest —
    * every appended micro-batch file carries a near-full-domain
    * envelope on every clustering column (appends aren't curve-
    * ordered), so box-query candidates degrade toward a full scan
    * until a re-cluster folds the stragglers back into compact tiles.
    *
    * The swap follows [[compactTable]]'s discipline: the new layout
    * lands in a hidden temp directory (readers never list it), then
    * old→aside and tmp→into-place, each rename CHECKED, with the
    * aside restored if the second rename fails — committed rows can
    * never be stranded invisible. Readers in the two-rename window see
    * the directory absent, never torn. After the swap, run
    * [[ManifestTable.adopt]] (and [[ManifestTable.buildBloom]]): it
    * describes the new files and drops the dead paths, so a registered
    * directory resumes pruning. */
  def reclusterTable(spark: SparkSession, path: String, cols: Seq[String],
                     numFiles: Int, bits: Int = 0): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      root.getParent, "." + root.getName + ".recluster-tmp")
    writeZOrdered(spark.read.parquet(path), tmp.toString, cols, numFiles, bits)
    val old = new org.apache.hadoop.fs.Path(
      root.getParent, "." + root.getName + ".recluster-old")
    require(fs.rename(root, old),
      s"reclusterTable: failed to set aside $root")
    if (!fs.rename(tmp, root)) {
      val restored = fs.rename(old, root)
      throw new IllegalStateException(
        s"reclusterTable: failed to move re-clustered data into $root" +
          (if (restored) " (original directory restored)"
           else s" AND COULD NOT RESTORE $old — manual recovery needed"))
    }
    fs.delete(old, true): Unit
  }

  /** What one [[reclusterIncremental]] pass did. */
  final case class ReclusterReport(rewrittenFiles: Int, keptFiles: Int,
                                   rewrittenRows: Long, newFiles: Int)

  /** INCREMENTAL curve optimize — the 100 TB form of
    * [[reclusterTable]]: rewrite ONLY the degraded files, cost ∝ the
    * degraded subset, never the table. Selection is metadata-only,
    * from the per-file entries of the directory's adopted manifest
    * table at `manifestRoot` ([[ManifestTable.adopt]] first, so appends are
    * described): a file
    * whose per-dimension envelope geomean exceeds `wideFactor` × the
    * MEDIAN file score is an offender. The median — not an absolute
    * bound like the ideal tile extent — because envelopes are
    * measured in domain units, and on a long-tailed column a sampled
    * append's extent looks deceptively modest (its max lands mid-
    * tail) while the curve files' equi-depth tiles look tiny; the
    * population's median self-calibrates both effects away. On a
    * majority-degraded table the median itself is wide and nothing
    * qualifies — that table needs [[reclusterTable]], not an
    * incremental pass. Offenders are read back, re-clustered among
    * themselves at the table's existing file grain, and swapped in:
    * new files land complete in a hidden temp dir, offenders move to
    * an aside dir, new files move in, aside deleted — per-file
    * renames, so (as with [[compactTable]]) a reader in the window
    * may briefly miss the rewritten rows, never see them doubled or
    * torn. Follow with another adopt to describe the new files and
    * drop the dead paths. Entries for files no longer live are
    * ignored — they select nothing. */
  def reclusterIncremental(spark: SparkSession, dir: String,
                           cols: Seq[String], manifestRoot: String,
                           wideFactor: Double = 2.0): ReclusterReport = {
    require(cols.size >= 2, "reclusterIncremental needs >= 2 clustering columns")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = ManifestTable.manifest(spark, manifestRoot,
        ManifestTable.latestVersion(spark, manifestRoot))
      .select(col("path") +: col("row_count") +:
        cols.flatMap(c => Seq(col(s"${c}_min").cast("double"),
          col(s"${c}_max").cast("double"))): _*)
      .collect()
      .map { r =>
        (r.getString(0), r.getLong(1),
          cols.indices.map(i => (r.getDouble(2 + 2 * i), r.getDouble(3 + 2 * i))))
      }
      // liveness: an entry for a deleted path must select nothing
      .filter { case (p, _, _) =>
        fs.exists(new org.apache.hadoop.fs.Path(p)) }
    if (stats.length < 2)
      return ReclusterReport(0, stats.length, 0L, 0)
    val spans = cols.indices.map { i =>
      val lo = stats.map(_._3(i)._1).min
      val hi = stats.map(_._3(i)._2).max
      math.max(hi - lo, 1e-12)
    }
    def score(env: Seq[(Double, Double)]): Double =
      math.pow(cols.indices.map(i =>
        math.max((env(i)._2 - env(i)._1) / spans(i), 1e-12)).product,
        1.0 / cols.size)
    val scores = stats.map { case (_, _, env) => score(env) }.sorted
    val median = scores(scores.length / 2)
    val (offenders, kept) =
      stats.partition { case (_, _, env) => score(env) > wideFactor * median }
    if (offenders.isEmpty)
      return ReclusterReport(0, kept.length, 0L, 0)
    val offRows = offenders.map(_._2).sum
    val grain = math.max(1L, stats.map(_._2).sum / stats.length)
    val nNew = math.max(1L, (offRows + grain - 1) / grain).toInt
    val offPaths = offenders.map(_._1)
    val root = new org.apache.hadoop.fs.Path(dir)
    val tmp = new org.apache.hadoop.fs.Path(
      root.getParent, "." + root.getName + ".recl-inc-tmp")
    val aside = new org.apache.hadoop.fs.Path(
      root.getParent, "." + root.getName + ".recl-inc-old")
    writeZOrdered(spark.read.parquet(offPaths.toIndexedSeq: _*), tmp.toString, cols, nNew,
      bits = 0)
    fs.mkdirs(aside): Unit
    offPaths.foreach { p =>
      val src = new org.apache.hadoop.fs.Path(p)
      require(fs.rename(src, new org.apache.hadoop.fs.Path(aside, src.getName)),
        s"reclusterIncremental: failed to set aside $src")
    }
    val moved = fs.listStatus(tmp).filter(s => s.isFile &&
      s.getPath.getName.endsWith(".parquet"))
    moved.foreach { s =>
      require(fs.rename(s.getPath,
        new org.apache.hadoop.fs.Path(root, s.getPath.getName)),
        s"reclusterIncremental: failed to move ${s.getPath} into $dir — " +
          s"offender files preserved in $aside for manual recovery")
    }
    fs.delete(aside, true): Unit
    fs.delete(tmp, true): Unit
    ReclusterReport(offenders.length, kept.length, offRows, moved.length)
  }

  private def writeByKey(df: DataFrame, path: String, key: Column,
                         numFiles: Int, drop: Seq[String] = Nil): Unit =
    df.withColumn("_zv", key)
      .repartitionByRange(numFiles, col("_zv"))
      .sortWithinPartitions(col("_zv"))
      .drop("_zv" +: drop: _*)
      .write.mode("overwrite").parquet(path)
}
