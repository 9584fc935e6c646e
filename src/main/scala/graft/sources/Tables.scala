package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders for the driver-generated synthetic star schema
  * (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst's predicate pushdown and
  * column pruning reach the file source (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`). At cluster
  * scale these would be partitioned tables (`…/dt=…/`) — `latest` mirrors
  * the reference's read-latest-partition discipline
  * (reference: src/normalize/io.ts:5-12).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The corpus parquet files are immutable per (path, mtime,
    * length), yet every `spark.read.parquet` call pays a
    * footer-inference Spark job — one per table load, across EVERY
    * query in a session (measured ~20-60 ms each at any scale; on an
    * object store the footer round-trips cost far more), so the schema
    * is inferred once per file identity: a replaced file has a new
    * (mtime, length) and re-infers. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    graft.util.EpochCache.readParquet(spark, path,
      (path, st.getModificationTime, st.getLen))
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` normalizes to session-zoned TimestampType (µs)
    * whatever the generator wrote: parquet TIMESTAMP(NANOS) — which
    * Spark 4 rejects outright (PARQUET_TYPE_ILLEGAL) — is read as long
    * (legacy conf) and truncated to microseconds, the same truncation
    * DuckDB applies implicitly when casting ns→µs; a naive
    * timestamp[us] column (isAdjustedToUTC=false → TIMESTAMP_NTZ) is
    * cast to TimestampType, value-preserving under the UTC session
    * timezone every graft session sets — so downstream
    * `unix_micros`/window logic agrees with the oracle either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  /** Streaming read of an events-shaped parquet directory with the
    * same `ts` normalization as [[events]]. readStream needs an
    * explicit schema, so the layout is probed with a one-file batch
    * read (footer-only — no data scan) and the matching conversion is
    * applied: nanos-as-long `ts div 1000` → timestamp_micros, or
    * TIMESTAMP_NTZ cast to session-zoned TimestampType. Keeping the
    * probe here means the streaming specs and any deployment read the
    * generator's layout through ONE seam instead of hard-coding it. */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val probed = s.read.parquet(dir).schema
    val raw = s.readStream.schema(probed).parquet(dir)
    probed("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> region _, "nation" -> nation _, "customer" -> customer _,
    "supplier" -> supplier _, "part" -> part _, "orders" -> orders _,
    "lineitem" -> lineitem _, "events" -> events _,
    "documents" -> documents _, "embeddings" -> embeddings _)

  /** Register every table as a temp view so the full corpus is
    * queryable from `spark.sql(...)` — `events` goes through the
    * ns-timestamp normalization, not a bare parquet read. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => loaders(n)(spark, sfDir).createOrReplaceTempView(n) }

  /** Latest lexicographic partition of a date-partitioned dataset dir —
    * the reference's "latest dataset date dir" (src/normalize/io.ts:5-12).
    * Driver-side FS listing; partition pruning then applies downstream.
    */
  def latestPartition(spark: SparkSession, baseDir: String): Option[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(baseDir),
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(baseDir)
    if (!fs.exists(p)) None
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .sorted(Ordering[String]).lastOption
  }
}
