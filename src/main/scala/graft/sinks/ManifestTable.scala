package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructType}
import com.fasterxml.jackson.databind.JsonNode
import graft.util.EpochCache

/** Manifest-based table format — epochs as FILE LISTS, not physical
  * copies. [[VersionedTable]] commits every epoch as a full `epoch=N`
  * directory: simple and right for metadata-scale tables (stats,
  * offsets, indexes), but at 100 TB a 1-row delete would copy 100 TB.
  * This table commits an epoch as a MANIFEST — a tiny parquet of
  * (path, size, row_count, per-tracked-column min/max/null-count) —
  * so untouched data files carry forward BY REFERENCE and row-level
  * operations rewrite only the files their keys can possibly touch:
  * the Delta/Iceberg copy-on-write grain.
  *
  * Layout under `root/`:
  *   - `data/<uuid>/part-*.parquet` — immutable data files; each
  *     commit lands its new files under a fresh uuid directory. A
  *     data file is INVISIBLE until some manifest references it, so
  *     landing is not a commit and a crashed writer leaks at worst an
  *     unreferenced directory ([[vacuum]] sweeps it by TTL).
  *   - `_manifests/` — a [[VersionedTable]] whose epoch N IS this
  *     table's version N. All commit machinery is inherited: CAS
  *     rename claims, serializable read-modify-write via
  *     `tryCommitAs`, pointer cache, commit timestamps
  *     ([[VersionedTable.versionAtTimestamp]] works verbatim), vacuum
  *     of old manifests. The table's own metadata — schema, pending
  *     equality deletes, CHECK constraints, NDV statistics, adopted
  *     directory — is one [[Meta]] value riding in each manifest
  *     epoch's commit record (atomic with it), so empty tables and
  *     column order survive.
  *
  * The manifest rows are deliberately the [[graft.sources.FileStats]]
  * shape: the stats ARE the manifest, one commit, never out of sync
  * with the file list — the coverage-proof dance the external stats
  * epochs need ([[graft.plans.MetaAggRule]]) is structural here. The
  * same envelope-proof engine
  * ([[graft.plans.StatsPruneRule.excludedByEnvelopes]]) that prunes
  * reads decides which files a MERGE/DELETE/CDC batch must rewrite.
  *
  * Scale shape per operation (T = table files, B = batch, K = files
  * whose tracked-column envelopes the batch's keys or the predicate
  * can touch):
  *   - [[write]] (append): lands B, commits manifest ∪ B — cost ∝ B.
  *   - row-level ops ([[rowDelta]]): one metadata-scale proof finds
  *     K; K is rewritten, or its matched positions vectored, or
  *     nothing is read at all (equality deletes) — cost ∝ K + B, never
  *     T. On a key-clustered layout ([[optimize]] with the key as sort
  *     column) K ≈ touched keys / keys-per-file; on a random layout or
  *     a non-range predicate K degrades toward T, honestly.
  *   - [[vacuum]]: refcount-aware — a data file is deleted only when
  *     NO retained manifest references it (and it is older than the
  *     staging TTL, so a concurrent writer's just-landed files are
  *     never swept).
  *
  * Track your merge/delete columns: `statsCols` (fixed at [[create]])
  * should contain the row-level keys and the hot query dimensions —
  * untracked columns have no envelopes, so they can't narrow K and
  * can't prune reads.
  */
object ManifestTable extends org.apache.spark.internal.Logging {

  private val ManifestsSub = "_manifests"
  private val DvSub = "_dv"
  private val EqSub = "_eq"

  private[graft] def manifestsRoot(root: String): String = s"$root/$ManifestsSub"

  private[graft] def dvRoot(root: String): String = s"$root/$DvSub"

  private def eqRoot(root: String): String = s"$root/$EqSub"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def canon(p: String): String = new Path(p).toUri.getPath

  /** Column form of the canonical-path identity every path join in
    * this file relies on: scheme AND authority dropped in two steps
    * ("hdfs://nn:8020/t/x" → "/t/x", "file:/tmp/x" → "/tmp/x" — a
    * single scheme-strip would leave "/nn:8020/…"). One definition,
    * shared by the landing join and the deletion-vector reads, so the
    * two sides of a path comparison can never desynchronize. */
  private def canonPathCol(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "^[a-zA-Z0-9+.-]+://[^/]*", ""),
      "^[a-zA-Z0-9+.-]+:(?=/)", "")

  /** Whether `root` holds a manifest table (vs a plain directory or a
    * [[VersionedTable]]). */
  def exists(spark: SparkSession, root: String): Boolean =
    VersionedTable.latestVersion(spark, manifestsRoot(root)) >= 0

  def latestVersion(spark: SparkSession, root: String): Long =
    VersionedTable.latestVersion(spark, manifestsRoot(root))

  def versions(spark: SparkSession, root: String): Seq[Long] =
    VersionedTable.versions(spark, manifestsRoot(root))

  def versionAtTimestamp(spark: SparkSession, root: String, tsMs: Long): Long =
    VersionedTable.versionAtTimestamp(spark, manifestsRoot(root), tsMs)

  /** The manifest of one version: (path, size, row_count, stats…,
    * dv_path, dv_rows, seq) — normalized so manifests committed before
    * the deletion-vector / sequence columns existed read with
    * `dv_path = NULL, dv_rows = 0, seq = 0` (each manifest epoch
    * stands alone schema-wise; the normalization is what lets every
    * consumer handle DVs and equality-delete ordering uniformly).
    * `seq` is the version at which the file was ADDED — the ordering
    * equality deletes apply by (a delete at seq s kills matching rows
    * only in files with seq < s); legacy files' seq 0 makes them
    * subject to every later delete, which is exactly their age. */
  def manifest(spark: SparkSession, root: String, version: Long): DataFrame =
    manifest(spark, recordAt(spark, root, version))

  /** [[manifest]] of an epoch whose record the caller already read. */
  private[graft] def manifest(spark: SparkSession,
                              rec: VersionedTable.Commit): DataFrame =
    collected(spark, rec, narrowOnMiss = false) match {
      case Some(c) if c.full => spark.createDataFrame(c.rows.asJava, c.schema)
      case _                 => manifestFromFiles(spark, rec.key)
    }

  /** The commit record of manifest epoch `version` — one read, which
    * also names the key of every cache entry over the epoch. */
  private[graft] def recordAt(spark: SparkSession, root: String,
                              version: Long): VersionedTable.Commit =
    VersionedTable.record(spark, manifestsRoot(root), version)

  private def manifestFromFiles(spark: SparkSession,
                                key: VersionedTable.EpochKey): DataFrame = {
    var m = EpochCache.readParquet(spark, key.dir, key)
    if (!m.columns.contains("dv_path"))
      m = m.withColumn("dv_path", lit(null).cast("string"))
    if (!m.columns.contains("dv_rows"))
      m = m.withColumn("dv_rows", lit(0L))
    if (!m.columns.contains("seq")) m = m.withColumn("seq", lit(0L))
    else m = m.withColumn("seq", coalesce(col("seq"), lit(0L)))
    if (!m.columns.contains("bucket"))
      m = m.withColumn("bucket", lit(null).cast("long"))
    m
  }

  /** Collected manifest epochs: a committed epoch is immutable, so its
    * [[manifest]] rows are collected ONCE and then served driver-side —
    * to every metadata accessor ([[filesAt]], [[rawFiles]],
    * [[effectiveFiles]], [[fileBuckets]], the DV-state reads), each of
    * which otherwise re-runs a Spark job over the same tiny parquet
    * (measured: 56 such jobs in one MV-refresh query), and as a
    * LocalRelation to every [[manifest]] consumer: each COMMIT reads
    * the base version's whole manifest (carried ∪ landed is what gets
    * written), and pruning/touched-file joins read the stats columns.
    * A local commit frame is what lets [[VersionedTable]] stage the
    * next epoch driver-side.
    *
    * One entry per epoch in [[graft.util.EpochCache]], keyed by its
    * [[VersionedTable.EpochKey]]. Full-width rows (stats included) are
    * the driver-memory hazard the round-14 ADVICE named, so an epoch
    * keeps them only when its parquet — the byte total its commit
    * record carries — is ≤ [[ManifestFullMaxBytes]] AND ≤
    * [[ManifestFullMaxRows]] rows; a larger epoch of up to
    * [[LocalizeMaxRows]] rows keeps just the narrow accessor columns
    * (its [[manifest]] stays the parquet-backed frame). Accessors read
    * columns by name, so either width serves them. */
  private val LocalizeMaxRows = 65536
  private val ManifestFullMaxRows = 16384
  private val ManifestFullMaxBytes = 8L << 20
  private val manifestAccessorCols = Seq(
    "path", "size", "row_count", "dv_path", "dv_rows", "seq", "bucket")

  private final case class Collected(schema: StructType,
                                     rows: Seq[org.apache.spark.sql.Row],
                                     full: Boolean)
  /** A cell weighs 32 bytes, except a binary one (a file's bloom
    * bits — [[buildBloom]]), which weighs its length: at 16 KiB a
    * cell, counting bits as 32 bytes would let the budget retain
    * hundreds of times what it claims to bound. */
  private val Manifests = new EpochCache.Kind[Collected]({ c =>
    val bins = c.schema.fields.indices
      .filter(c.schema(_).dataType == BinaryType)
    256L + 32L * c.rows.length * (c.schema.length - bins.length) +
      c.rows.iterator.map(r => bins.iterator.map(i =>
        if (r.isNullAt(i)) 32L
        else r.getAs[Array[Byte]](i).length.toLong).sum).sum
  })

  /** The cached collection of one epoch; on a miss, a fresh one — full
    * width under the byte gate, else (only when `narrowOnMiss`) the
    * narrow columns — cached when within the row bounds above. */
  private def collected(spark: SparkSession, rec: VersionedTable.Commit,
                        narrowOnMiss: Boolean): Option[Collected] =
    EpochCache.get(Manifests, rec.key).orElse {
      val small = rec.bytes <= ManifestFullMaxBytes
      if (!small && !narrowOnMiss) None
      else {
        val m = manifestFromFiles(spark, rec.key)
        val c =
          if (!small) {
            val n = m.select(manifestAccessorCols.map(col): _*)
            Collected(n.schema, n.collect().toSeq, full = false)
          } else {
            val rows = m.collect().toSeq
            if (rows.length <= ManifestFullMaxRows)
              Collected(m.schema, rows, full = true)
            else {
              val idx = manifestAccessorCols.map(m.schema.fieldIndex)
              Collected(StructType(idx.map(m.schema(_))),
                rows.map(r => org.apache.spark.sql.Row.fromSeq(idx.map(r.get))),
                full = false)
            }
          }
        if (c.full || c.rows.length <= LocalizeMaxRows)
          EpochCache.put(Manifests, rec.key, c)
        Some(c)
      }
    }

  /** Prime the manifest entry with the rows a commit JUST wrote — when
    * the committed frame was driver-local anyway — so the next
    * commit's carried-manifest read (and every accessor in between)
    * runs zero Spark jobs. The primed value is exactly what a
    * read-back would serve: same column order and types (the parquet
    * round trip is value-exact for every stats type the landing
    * writes), all-nullable schema rendering, and the one
    * normalization [[manifest]] applies to committed rows — NULL
    * `seq` (a create's landing rows) coalesced to 0, which also makes
    * `seq` the one non-nullable column. Best-effort and conservative:
    * any missing column or over-bound size skips the prime, and a
    * conversion failure skips it with a warning. `key` is the one the
    * commit's publish built from its claim. */
  private def primeManifestCaches(spark: SparkSession, root: String,
                                  version: Long, rows: DataFrame,
                                  key: VersionedTable.EpochKey): Unit =
    try {
      val plan = rows.queryExecution.optimizedPlan
      LocalEpoch.localRows(plan, ManifestFullMaxRows).foreach { irows =>
        val sch = StructType(VersionedTable.allNullable(plan.schema).map(f =>
          if (f.name == "seq") f.copy(nullable = false) else f))
        if (manifestAccessorCols.forall(sch.fieldNames.contains)) {
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(sch)
          val seqIdx = sch.fieldIndex("seq")
          val ext = irows.map { ir =>
            val r = conv(ir).asInstanceOf[org.apache.spark.sql.Row]
            if (r.isNullAt(seqIdx))
              org.apache.spark.sql.Row.fromSeq(
                r.toSeq.updated(seqIdx, 0L))
            else r
          }
          EpochCache.put(Manifests, key, Collected(sch, ext, full = true))
        }
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        logWarning(s"graft manifest cache prime skipped for $root " +
          s"version $version: $e")
    }

  /** The normalized manifest of one version as collected rows carrying
    * at least the narrow accessor columns (read them by name), served
    * from the one cached entry per epoch. */
  private[graft] def manifestCollected(spark: SparkSession, root: String,
                                       version: Long)
      : (StructType, Seq[org.apache.spark.sql.Row]) =
    manifestCollected(spark, recordAt(spark, root, version))

  private def manifestCollected(spark: SparkSession,
                                rec: VersionedTable.Commit)
      : (StructType, Seq[org.apache.spark.sql.Row]) = {
    val c = collected(spark, rec, narrowOnMiss = true).get
    (c.schema, c.rows)
  }

  // ------------------------------------------------------- bucketing
  //
  // Hash-bucketed layout for STORAGE-PARTITIONED JOINS: a table
  // created with `bucketBy = (key, n)` lands every file inside one of
  // n hash buckets (`pmod(hash(key), n)` — Spark's Murmur3, seed 42),
  // the manifest records each file's bucket, and the catalog scan
  // reports `KeyGroupedPartitioning(bucket(n, key))` with one input
  // partition per bucket — two tables bucketed the same way equi-join
  // on the key with NO shuffle on either side (the Iceberg bucket-SPJ
  // shape). The spec is frozen at create in the key field's schema
  // metadata, so every landing, rewrite, and maintenance re-lay
  // preserves the layout automatically.

  private val BucketKey = "graft.bucket"
  private val BucketPosKey = "graft.bucket.pos"

  /** The bucket-key fields in declared key order (a single-column key
    * carries no position; multi-column keys stamp `graft.bucket.pos`
    * on each participant). */
  private def bucketFields(schema: StructType)
      : Seq[org.apache.spark.sql.types.StructField] =
    schema.fields.filter(_.metadata.contains(BucketKey))
      .sortBy(f => if (f.metadata.contains(BucketPosKey))
        f.metadata.getLong(BucketPosKey) else 0L).toSeq

  /** The table's bucket spec — (PHYSICAL key columns in declared
    * order, bucket count) — or None for unbucketed tables. */
  private[graft] def bucketSpec(
      schema: StructType): Option[(Seq[String], Int)] = {
    val fs = bucketFields(schema)
    fs.headOption.map(h =>
      (fs.map(physicalName), h.metadata.getLong(BucketKey).toInt))
  }

  /** `bucketSpec` under the LOGICAL names — what the reported
    * partitioning must reference (join attributes are logical). */
  private[graft] def bucketSpecLogical(
      schema: StructType): Option[(Seq[String], Int)] = {
    val fs = bucketFields(schema)
    fs.headOption.map(h =>
      (fs.map(_.name), h.metadata.getLong(BucketKey).toInt))
  }

  /** Per-file bucket ids of one version — the scan-side grouping for
    * storage-partitioned joins (metadata-scale, like every manifest
    * read). */
  private[graft] def fileBuckets(spark: SparkSession, root: String,
                                 version: Long): Map[String, Long] = {
    val (schema, rows) = manifestCollected(spark, root, version)
    val (ip, ib) = (schema.fieldIndex("path"), schema.fieldIndex("bucket"))
    rows.filterNot(_.isNullAt(ib))
      .map(r => r.getString(ip) -> r.getLong(ib)).toMap
  }

  /** Stamp a bucket declaration into a schema (the [[create]] path).
    * `key` is one column name or a comma-separated list — each column
    * of a MULTI-COLUMN key hashes into its OWN n buckets and a file's
    * cell is the tuple (per-column transforms are the one shape
    * Spark's storage-partitioned joins accept — see
    * [[graft.sources.v2.GraftBucketing]]); each participant field
    * records its position so the declared order survives schema
    * round-trips. The total grid (n^k cells) is capped: every landing
    * writes up to one file per occupied cell. */
  private def withBucketSpec(schema: StructType, key: String,
                             n: Int): StructType = {
    require(n >= 2 && n <= 4096, s"bucket count must be in [2, 4096], got $n")
    val keys = key.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "bucketBy needs at least one key column")
    require(math.pow(n.toDouble, keys.length.toDouble) <= 4096.0,
      s"bucket grid too large: $n^${keys.length} cells exceeds 4096 — " +
        "use a smaller per-column bucket count")
    require(keys.distinct.length == keys.length,
      s"duplicate bucket key columns: ${keys.mkString(", ")}")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"bucket column $k is not a table column"))
    // the landing writes bucket ids through a `gb` partition column —
    // a real column of that name would be silently consumed by it
    require(!schema.fieldNames.contains("gb"),
      "bucketed tables reserve the column name 'gb' for the bucket " +
        "directory layout — rename that column")
    keys.foreach { k =>
      val dt = schema(k).dataType
      require(graft.sources.v2.GraftBucketFunction.supportedKeyType(dt),
        s"bucketBy supports integral/string/date/timestamp/decimal " +
          s"keys, got $dt for $k")
    }
    StructType(schema.fields.map { f =>
      if (!keys.contains(f.name)) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(BucketKey, n.toLong)
        if (keys.length > 1)
          mb.putLong(BucketPosKey, keys.indexOf(f.name).toLong)
        f.copy(metadata = mb.build())
      }
    })
  }

  // ------------------------------------------------ equality deletes
  //
  // The keys a row-level op retires at the equality-delete grain
  // ([[rowDelta]]) apply at read until [[compactEq]], a later
  // row-level op or the maintenance tick materializes them.

  /** One pending equality delete: `path` holds the delete's key rows
    * (a parquet directory under `_eq/`), `seq` the version it
    * committed at (it applies to files with a SMALLER seq), `keys`
    * the logical key column names. */
  private[graft] final case class EqEntry(path: String, seq: Long,
                                          keys: Seq[String])

  /** A version's table metadata, committed in its manifest epoch's
    * [[VersionedTable.Commit]] record:
    *   - `schema`: the table schema (logical names; physical names and
    *     bucket claims ride in field metadata);
    *   - `eq`: the PENDING equality deletes — applied at read until a
    *     commit materializes them (every commit that starts from the
    *     effective view, [[effectiveManifest]], commits `eq = Nil`);
    *   - `constraints`: CHECK invariants, (name, boolean SQL) — every
    *     landing of new or transformed rows validates against them
    *     before its commit, so a version's data always satisfies its
    *     version's constraints;
    *   - `ndv`: approximate per-column DISTINCT counts from the last
    *     [[analyzeTable]], PHYSICAL-keyed (stable under RENAME COLUMN)
    *     and carried like any ANALYZE statistic; absent columns make
    *     the planner fall back to its defaults, never a wrong number;
    *   - `adopted`: the directory an [[adopt]]ed table mirrors.
    * Commits carry the base's Meta forward unless they decide a field. */
  private[graft] final case class Meta(
      schema: StructType,
      eq: Seq[EqEntry] = Nil,
      constraints: Seq[(String, String)] = Nil,
      ndv: Map[String, Long] = Map.empty,
      adopted: Option[String] = None)

  private def encodeMeta(m: Meta): JsonNode = {
    val n = VersionedTable.mapper.createObjectNode()
    n.set[JsonNode]("schema", VersionedTable.mapper.readTree(m.schema.json))
    val eq = n.putArray("eq")
    m.eq.foreach { e =>
      val keys = eq.addObject().put("path", e.path).put("seq", e.seq)
        .putArray("keys")
      e.keys.foreach(keys.add(_): Unit)
    }
    val cons = n.putObject("constraints")
    m.constraints.foreach { case (c, e) => cons.put(c, e) }
    val ndv = n.putObject("ndv")
    m.ndv.toSeq.sortBy(_._1).foreach { case (c, d) => ndv.put(c, d) }
    m.adopted.foreach(n.put("adopted", _))
    n
  }

  /** The [[Meta]] committed with `version`. */
  private[graft] def metaAt(spark: SparkSession, root: String,
                            version: Long): Meta =
    metaOf(recordAt(spark, root, version))

  /** The [[Meta]] a manifest epoch's record carries; fails loudly,
    * naming the epoch, when it carries none. */
  private def metaOf(rec: VersionedTable.Commit): Meta = {
    val n = rec.meta
    require(n.has("schema"),
      s"manifest epoch ${rec.key.dir} carries no table metadata")
    def fields(o: JsonNode) =
      o.properties.asScala.toSeq.map(e => e.getKey -> e.getValue)
    Meta(
      org.apache.spark.sql.types.DataType.fromJson(n.get("schema").toString)
        .asInstanceOf[StructType],
      n.path("eq").asScala.toSeq.map(e => EqEntry(e.get("path").asText,
        e.get("seq").asLong, e.path("keys").asScala.toSeq.map(_.asText))),
      fields(n.path("constraints")).map { case (c, e) => c -> e.asText },
      fields(n.path("ndv")).map { case (c, d) => c -> d.asLong }.toMap,
      Option(n.get("adopted")).map(_.asText))
  }

  /** The table's CHECK constraints committed with `version`. */
  private[graft] def constraintsAt(spark: SparkSession, root: String,
                                   version: Long): Seq[(String, String)] =
    metaAt(spark, root, version).constraints

  /** ANALYZE: one distributed pass computing approximate distinct
    * counts (HLL, `approx_count_distinct`) for `columns` (default:
    * every atomic-typed column), committed as a metadata-only version
    * whose [[Meta]] `ndv` every later commit carries forward. This is the
    * number COST-BASED join planning runs on (min/max/nullCount
    * already come exact from the manifest's own envelopes — NDV is
    * the one statistic that needs a data pass): with
    * `spark.sql.cbo.enabled` the scan reports it through the DSv2
    * column-statistics surface and join reorder/strategy sees real
    * cardinalities instead of defaults. Cost: ONE scan of the live
    * rows, all columns folded in the same pass. */
  def analyzeTable(spark: SparkSession, root: String,
                   columns: Seq[String] = Nil): Long = {
    val v = latestVersion(spark, root)
    require(v >= 0, s"manifest table at $root does not exist")
    val schema = tableSchema(spark, root, v)
    val atomic = schema.fields.filter { f =>
      import org.apache.spark.sql.types._
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      }
    }.map(_.name).toSeq
    val cols = if (columns.nonEmpty) columns else atomic
    cols.foreach(c => require(atomic.contains(c),
      s"analyzeTable: $c is not an atomic-typed table column"))
    val row = readVersion(spark, root, v)
      .agg(approx_count_distinct(col(cols.head)).as(cols.head),
        cols.tail.map(c => approx_count_distinct(col(c)).as(c)): _*)
      .head()
    val ndv = cols.map(c =>
      physicalFor(schema, c) -> row.getAs[Long](c)).toMap
    commitLoop(spark, root) { (rec, meta) =>
      Some((manifest(spark, rec), meta.copy(ndv = ndv)))
    }.get
  }

  /** Top-level column names a constraint expression references —
    * parsed, not analyzed (the check callers guard evolution, where
    * the expression may no longer resolve). */
  private def constraintRefs(spark: SparkSession, exprSql: String)
      : Set[String] =
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.head
    }.toSet

  /** One-pass violation probe over freshly landed files: read them
    * under the attempt's schema (physical names on disk, logical
    * names for the expressions), flag every constraint in one scan,
    * and refuse on the first violating row — SQL CHECK semantics:
    * only FALSE violates, NULL passes (enforce non-null with an
    * explicit `c IS NOT NULL` constraint). A refusal commits
    * NOTHING; the already-landed files stay unreferenced until
    * vacuum's TTL sweep, the same contract as a failed CTAS. */
  private def validateConstraints(spark: SparkSession,
                                  files: Seq[(String, Long)],
                                  schema: StructType,
                                  cons: Seq[(String, String)]): Unit = {
    val logical = scanFiles(spark, toPhysical(schema), files)
      .select(schema.fields.toIndexedSeq.map(f =>
        col(physicalName(f)).as(f.name)): _*)
    val flagged = logical.select(cons.map { case (n, e) =>
      (expr(e) <=> lit(false)).as(n) }: _*)
    val bad = flagged
      .filter(cons.map(c => col(c._1)).reduce(_ || _))
      .limit(1).collect()
    bad.headOption.foreach { r =>
      val broken = cons.filter { case (n, _) => r.getAs[Boolean](n) }
      sys.error("CHECK constraint violated by the batch — nothing " +
        "committed: " +
        broken.map { case (n, e) => s"$n ($e)" }.mkString(", "))
    }
  }

  /** ADD CONSTRAINT — a table-level CHECK invariant (`NOT NULL` is
    * spelled `c IS NOT NULL`): first proves EVERY existing live row
    * satisfies it (one scan, inside the CAS attempt, so a racing
    * write re-validates), then commits the widened registry as a
    * normal metadata-only version. From then on every commit that
    * lands rows — append, overwrite, MERGE, UPDATE, CDC, streaming
    * batches — validates them BEFORE committing
    * ([[commitLoop]]): a violating batch refuses with nothing
    * committed, the Delta CHECK-constraint contract. Cost at scale:
    * one extra read of each commit's OWN batch (never the table), and
    * the registry rides in the version's [[Meta]]. */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    exprSql: String): Long =
    addConstraints(spark, root, Seq((name, exprSql)))

  /** [[addConstraint]] for a whole SET in ONE commit — the atomic
    * form an inline `CREATE TABLE (…, CONSTRAINT …, CONSTRAINT …)`
    * needs: every declaration validates against the same base before
    * anything commits, so a refused later constraint never strands an
    * earlier one on the table (which matters doubly when the CREATE
    * adopted a PRE-EXISTING location — a partial landing would gate a
    * table the failed statement never owned). One scan proves the
    * whole set over the existing live rows. */
  def addConstraints(spark: SparkSession, root: String,
                     cons: Seq[(String, String)]): Long = {
    require(cons.nonEmpty, "addConstraints requires at least one")
    cons.foreach { case (name, exprSql) =>
      require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"constraint name '$name' must be an identifier " +
          "([A-Za-z_][A-Za-z0-9_]*)") }
    require(cons.map(_._1).distinct.length == cons.length,
      s"duplicate constraint names in one set: " +
        cons.map(_._1).mkString(", "))
    commitLoop(spark, root) { (rec, meta) =>
      val existing = meta.constraints
      val schema = meta.schema
      cons.foreach { case (name, exprSql) =>
        require(!existing.exists(_._1 == name),
          s"constraint $name already exists on $root")
        val resolved = resolveCond(spark, expr(exprSql), schema)
        require(resolved.deterministic,
          s"constraint $name must be deterministic — it re-evaluates " +
            "on every future batch")
        require(resolved.collectFirst {
          case s: org.apache.spark.sql.catalyst.expressions
            .SubqueryExpression => s }.isEmpty,
          s"constraint $name must not contain subqueries")
      }
      val flags = cons.map { case (n, e) => (expr(e) <=> lit(false)).as(n) }
      val bad = readVersion(spark, root, rec.key.version).select(flags: _*)
        .filter(cons.map(c => col(c._1)).reduce(_ || _))
        .limit(1).collect()
      bad.headOption.foreach { r =>
        val broken = cons.filter { case (n, _) => r.getAs[Boolean](n) }
        sys.error("cannot add constraint(s) " +
          broken.map { case (n, e) => s"$n ($e)" }.mkString(", ") +
          ": existing rows violate them")
      }
      Some((manifest(spark, rec),
        meta.copy(constraints = existing ++ cons)))
    }.get
  }

  /** SET/DROP a column's CURRENT default — metadata-only, affecting
    * FUTURE inserts only: existing rows keep their EXISTS snapshot
    * (the value the column was added under, if any), the Spark/Delta
    * contract. `default = None` drops the current default. The SQL
    * text must fold to a constant of the column's type — validated by
    * Spark's own fold before anything commits. */
  def setColumnDefault(spark: SparkSession, root: String, name: String,
                       default: Option[String]): Long =
    commitLoop(spark, root) { (rec, meta) =>
      val schema = meta.schema
      require(schema.fieldNames.contains(name),
        s"column $name does not exist")
      val keys = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      val next = StructType(schema.fields.map { f =>
        if (f.name != name) f
        else {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          default match {
            case Some(sql) =>
              require(sql.nonEmpty, "SET DEFAULT requires an expression")
              // validation only: the fold throws on a non-constant or
              // type-incompatible expression; the EXISTS snapshot (if
              // any) is NOT rewritten — old rows keep reading the
              // value their evolution declared
              keys.constantFoldCurrentDefaultsToExistDefaults(
                StructType(Seq(f.copy(metadata =
                  new org.apache.spark.sql.types.MetadataBuilder()
                    .putString(keys.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
                      sql).build()))),
                "ALTER TABLE ALTER COLUMN"): Unit
              f.copy(metadata = mb.putString(
                keys.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql).build())
            case None =>
              f.copy(metadata = mb.remove(
                keys.CURRENT_DEFAULT_COLUMN_METADATA_KEY).build())
          }
        }
      })
      Some((manifest(spark, rec), meta.copy(schema = next)))
    }.get

  /** DROP CONSTRAINT — metadata-only removal of one named invariant;
    * refuses an unknown name (a silently-ignored typo would leave the
    * real constraint enforced against the user's belief) unless
    * `ifExists`, whose absent-name no-op decision runs INSIDE the CAS
    * attempt: two racing `IF EXISTS` drops both succeed (the loser
    * abstains with None) instead of the loser throwing. */
  def dropConstraint(spark: SparkSession, root: String, name: String,
                     ifExists: Boolean = false): Option[Long] =
    commitLoop(spark, root) { (rec, meta) =>
      if (!meta.constraints.exists(_._1 == name)) {
        if (ifExists) None
        else sys.error(s"constraint $name does not exist on $root")
      } else Some((manifest(spark, rec),
        meta.copy(constraints = meta.constraints.filterNot(_._1 == name))))
    }

  /** Tracked stats columns, read off the manifest's own schema. */
  def statsCols(spark: SparkSession, root: String, version: Long): Seq[String] =
    statsCols(spark, recordAt(spark, root, version))

  private[graft] def statsCols(spark: SparkSession,
                               rec: VersionedTable.Commit): Seq[String] =
    statsOf(manifest(spark, rec))

  private def statsOf(m: DataFrame): Seq[String] =
    m.columns.toSeq.filter(_.endsWith("_min")).map(_.stripSuffix("_min"))

  /** The table schema committed with `version`'s manifest. */
  def tableSchema(spark: SparkSession, root: String, version: Long): StructType =
    metaAt(spark, root, version).schema

  // ------------------------------------------------- column mapping
  //
  // RENAME COLUMN is metadata-only via Delta-style name mapping: a
  // field's PHYSICAL name — the name data files and manifest stat
  // columns actually carry — is frozen at birth and recorded in the
  // committed schema's field metadata under `graft.physical` the first
  // time it diverges from the logical name. Unmapped tables (no
  // rename ever) have physical == logical everywhere and every
  // mapping helper is the identity — existing tables stay readable
  // with zero behavior change, and their data files remain
  // plain-parquet readable under their logical names.

  private val PhysicalKey = "graft.physical"

  /** The name this field's data lives under in parquet files and
    * manifest stat columns. */
  private[graft] def physicalName(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private[graft] def physicalFor(schema: StructType, logical: String): String =
    schema.fields.find(_.name == logical).map(physicalName).getOrElse(logical)

  /** A field's TYPE as data files carry it: nested struct fields
    * renamed to their physical names, recursively (NESTED column
    * mapping — struct members evolve by the same frozen-physical-name
    * machinery as top-level columns). Arrays and maps recurse into
    * their element/value types. */
  private[graft] def physicalType(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(name = physicalName(f), dataType = physicalType(f.dataType))))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = physicalType(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = physicalType(m.valueType))
    case other => other
  }

  /** The schema as data files carry it: fields renamed to their
    * physical names at EVERY nesting level (nullability/metadata
    * unchanged). */
  private[graft] def toPhysical(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(name = physicalName(f), dataType = physicalType(f.dataType))))

  /** Nullability-relaxed copy of a type — rename-only struct casts
    * must not try to narrow to NOT NULL (Cast refuses). */
  private def relaxedType(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(nullable = true, dataType = relaxedType(f.dataType))))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = relaxedType(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = relaxedType(m.valueType))
    case other => other
  }

  private def typeHasMapping(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case s: StructType => s.fields.exists(f =>
      physicalName(f) != f.name || typeHasMapping(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType =>
      typeHasMapping(a.elementType)
    case m: org.apache.spark.sql.types.MapType =>
      typeHasMapping(m.valueType)
    case _ => false
  }

  private[graft] def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f =>
      physicalName(f) != f.name || typeHasMapping(f.dataType))

  /** Rename a LOGICAL-named frame to physical names for landing —
    * identity when the table carries no mapping. Nested mappings
    * rename through a CAST to the physical type (struct casts are
    * positional, so same-shaped types rename losslessly). */
  private def physSelect(df: DataFrame, schema: StructType): DataFrame =
    if (!hasMapping(schema)) df
    else df.select(schema.fields.toIndexedSeq.map { f =>
      val c =
        if (typeHasMapping(f.dataType))
          // rename-only positional cast; relaxed nullability (a cast
          // may not narrow to NOT NULL)
          col(f.name).cast(relaxedType(physicalType(f.dataType)))
        else col(f.name)
      c.as(physicalName(f))
    }: _*)

  /** Rewrite a resolved row-local expression's attribute names
    * logical→physical — the form the manifest's stat columns and the
    * pruning proofs speak. */
  private def toPhysicalExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: StructType)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    if (!hasMapping(schema)) return e
    val m = schema.fields.map(f => f.name -> physicalName(f)).toMap
    e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if m.contains(a.name) && m(a.name) != a.name =>
        a.withName(m(a.name))
    }
  }

  /** Data-file paths of one version (driver-side: |files| strings —
    * metadata scale, the same bound every manifest read has). */
  def filesAt(spark: SparkSession, root: String, version: Long): Seq[String] =
    filesAt(spark, recordAt(spark, root, version))

  private def filesAt(spark: SparkSession,
                      rec: VersionedTable.Commit): Seq[String] =
    entries(spark, rec).map(_.path)

  /** Read one version: the manifest's files, with the committed
    * schema. An empty manifest reads as an empty frame.
    *
    * Routed through `format("graft")` so the direct API plans exactly
    * like the DSv2/catalog path: the scan's listing comes from the
    * manifest via `GraftManifestFileIndex` — ZERO filesystem calls at
    * planning (a |files|-long root list handed to spark.read.parquet
    * would stat every file), plus the manifest-envelope and bloom
    * pruning the source runs on pushed filters. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    if (filesAt(spark, root, version).isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        tableSchema(spark, root, version))
    spark.read.format("graft")
      .option("versionAsOf", version.toString).load(root)
  }

  /** Read the current version. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(spark, root)
    require(v >= 0, s"manifest table at $root has no committed version")
    readVersion(spark, root, v)
  }

  // ---------------------------------------------------------------- commits

  /** Land `df`'s rows as fresh immutable data files and return their
    * manifest rows (path, size, row_count, envelopes). Not a commit:
    * the files are invisible until a manifest referencing them wins
    * the CAS. */
  /** The manifest-row schema for a table of `dataSchema` tracking
    * `stats` columns — needed to commit an EMPTY manifest (a created-
    * but-unloaded table) without any file to derive it from. */
  private def manifestSchema(dataSchema: StructType,
                             stats: Seq[String]): StructType = {
    import org.apache.spark.sql.types._
    StructType(
      (StructField("path", StringType) ::
      StructField("size", LongType) ::
      StructField("row_count", LongType) ::
      stats.toList.flatMap { c =>
        val dt = dataSchema(c).dataType
        Seq(StructField(s"${c}_min", dt), StructField(s"${c}_max", dt),
          StructField(s"${c}_nulls", LongType))
      }) :+ StructField("dv_path", StringType) :+
        StructField("dv_rows", LongType) :+ StructField("seq", LongType) :+
        StructField("bucket", LongType))
  }

  private def landFiles(df: DataFrame, root: String,
                        stats: Seq[String],
                        bucketAs: Option[Option[(String, Int)]] = None,
                        sortWithin: Seq[String] = Nil)
      : DataFrame = {
    val spark = df.sparkSession
    val dir = s"$root/data/${java.util.UUID.randomUUID().toString}"
    // a bucketed table's EVERY landing routes rows to their hash
    // bucket (the spec is frozen in the committed schema, so appends,
    // rewrites, and re-lays all preserve the layout): bucket ids
    // become `gb=<b>` partition directories — one repartition by the
    // bucket id first puts each bucket wholly in one task, so a
    // landing writes at most n files, and the directory component is
    // what the manifest's per-file `bucket` column reads back.
    // `bucketAs` overrides the table lookup EXPLICITLY — Some(None)
    // means "definitely unbucketed" (the RTAS schema-replace, whose
    // new schema carries no claim and may lack the old key entirely).
    // normalize both sources to (key columns, n): an explicit
    // bucketAs carries the CREATE declaration's comma-joined logical
    // names (logical == physical on a fresh table); the table lookup
    // serves physical names, which is what a landing frame speaks
    val bucket: Option[(Seq[String], Int)] = bucketAs match {
      case Some(b) => b.map { case (k, n) =>
        (k.split(",").map(_.trim).filter(_.nonEmpty).toSeq, n) }
      case None =>
        if (exists(spark, root))
          bucketSpec(tableSchema(spark, root, latestVersion(spark, root)))
        else None
    }
    bucket match {
      case Some((ks, n)) =>
        // each key hashes INDEPENDENTLY into n buckets; the landed id
        // is the grid cell's composite (b1·n^(k−1) + … + bk) — the
        // per-column shape storage-partitioned joins require
        // ([[graft.sources.v2.GraftBucketing]])
        val cell = ks.map(k => pmod(hash(col(k)), lit(n)))
          .reduceLeft((acc, b) => acc * n + b)
        val cells = math.pow(n.toDouble, ks.length.toDouble).toInt
        // the cell shuffle would DESTROY any clustering the caller
        // laid (optimize's range-sort) — a re-lay's in-bucket order
        // re-establishes inside each cell's task, so the bucket
        // file's row groups stay page-prunable on the sort columns
        val routed = df.withColumn("gb", cell)
          .repartition(cells, col("gb"))
        (if (sortWithin.isEmpty) routed
         else routed.sortWithinPartitions(
           (col("gb") +: sortWithin.map(col)): _*))
          .write.partitionBy("gb").parquet(dir)
      case None => df.write.parquet(dir)
    }
    val listed = graft.sources.FileManifest.listFiles(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    describeFiles(spark, listed, df.schema, stats, bucket.nonEmpty,
      () => spark.read.parquet(dir))
  }

  /** Manifest rows (path, size, row_count, envelopes, dv_path, dv_rows,
    * seq = NULL, bucket) for already-written parquet files given as
    * (canonical path, size) — the landing-row assembly shared by
    * [[landFiles]] (files it just wrote) and [[adopt]] (files a plain
    * directory already holds). `scan` reads exactly those files; it
    * serves the exact-stats fallback only. */
  private def describeFiles(spark: SparkSession, files: Seq[(String, Long)],
                            dataSchema: StructType, stats: Seq[String],
                            bucketed: Boolean, scan: () => DataFrame)
      : DataFrame = {
    if (files.isEmpty) // an empty frame writes no data files
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        manifestSchema(dataSchema, stats))
    // stats come from parquet FOOTERS when every tracked column's type
    // records them — |files| metadata reads, NOT a second scan of the
    // data just written (the landing was already one full write; at
    // scale the re-scan would double every commit's I/O). Unsupported
    // types fall back to the exact re-scan; footer "unknown" cells
    // land as NULL, which every consumer treats as
    // can't-prove-anything (pruning keeps, touched-file search
    // rewrites) — sound either way.
    val footersOk = stats.nonEmpty &&
      stats.forall(c => graft.sources.FooterStats.supported(dataSchema(c).dataType))
    // DRIVER-SIDE landing-row assembly for small landings: under the
    // (conf'able) file-count bound the footer reads are a few KB each —
    // far below the scheduling cost of the footer job + the broadcast
    // join of the distributed path (measured: one job + one broadcast
    // build per commit, across every table-format query). The result is
    // a LocalRelation, value-identical to the joined frame below: same
    // FooterStats.fileRow fold, same row_count>0 filter, same
    // manifestSchema shape (the empty-landing return already commits
    // through it). Above the bound — a real cluster commit landing
    // thousands of files — the distributed path is untouched.
    val localFooterMax = spark.conf.getOption(
      "spark.graft.landing.localFooterMaxFiles").map(_.toInt).getOrElse(64)
    val sizeByPath: Map[String, Long] = files.toMap
    if (footersOk) {
      val paths = sizeByPath.keys.toSeq.sorted
      if (paths.size <= localFooterMax) {
        val colTypes = stats.map(c => c -> dataSchema(c).dataType)
        val hconf = spark.sparkContext.hadoopConfiguration
        val bucketOf: String => Any =
          if (!bucketed) _ => null
          else p =>
            "/gb=(\\d+)/[^/]+$".r.findFirstMatchIn(p)
              .map(m => java.lang.Long.valueOf(m.group(1).toLong))
              .getOrElse(sys.error(
                "bucketed landing produced a file outside a gb=N " +
                  s"directory: $p"))
        val outRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
        paths.foreach { p =>
          val fr = graft.sources.FooterStats.fileRow(p, hconf, colTypes)
          if (fr.getLong(1) > 0L)
            outRows.add(org.apache.spark.sql.Row.fromSeq(
              Seq[Any](p, sizeByPath(p), fr.getLong(1)) ++
                (2 until fr.length).map(fr.get) ++
                Seq[Any](null, 0L, null, bucketOf(p))))
        }
        return spark.createDataFrame(outRows, manifestSchema(dataSchema, stats))
      }
    }
    val collected =
      if (footersOk)
        graft.sources.FileStats.collectFooters(spark,
          sizeByPath.keys.toSeq.sorted, dataSchema, stats)
      else if (stats.isEmpty)
        scan().groupBy(input_file_name().as("path"))
          .agg(count(lit(1)).as("row_count"))
      else graft.sources.FileStats.statsOf(scan(), stats)
    val sizes = {
      val spk = spark
      import spk.implicits._
      files.toDF("path", "size")
    }
    // canonical path identity on both sides (listFiles emits
    // toUri.getPath; input_file_name emits a scheme'd URI; footer rows
    // carry the listing's own paths) — [[canonPathCol]]: a mismatch
    // here would silently commit a manifest referencing NONE of the
    // batch's files. Zero-row write partitions produce no stats
    // group, so the inner join is also the empty-file filter — such
    // files stay on disk, unreferenced, until vacuum's TTL sweep
    val withCanon = collected.withColumn("path", canonPathCol(col("path")))
    // footer rows surface 0-row files (an empty replacement write);
    // they never enter the manifest. Freshly landed files carry no
    // deletion vector by construction.
    sizes.join(withCanon, Seq("path")).filter(col("row_count") > 0)
      .withColumn("dv_path", lit(null).cast("string"))
      .withColumn("dv_rows", lit(0L))
      // the ADDED-AT version is the commit's to decide — the commit
      // loop stamps NULL seq with its own attempt's version
      .withColumn("seq", lit(null).cast("long"))
      .withColumn("bucket",
        if (!bucketed) lit(null).cast("long")
        else {
          // the bucket id reads off the directory component DIRECTLY
          // ABOVE the file name (the landing's own partitionBy dir) —
          // an unanchored match could pick a 'gb=<digits>' in the
          // table-root path and silently stamp every file with a
          // wrong bucket. A bucketed landing whose file lacks the
          // component is a layout bug: fail the commit loudly.
          val b = regexp_extract(col("path"), "/gb=(\\d+)/[^/]+$", 1)
          when(b === "", raise_error(concat(
            lit("bucketed landing produced a file outside a gb=N " +
              "directory: "), col("path"))))
            .otherwise(b).cast("long")
        })
  }

  /** Strip the column-mapping metadata off a schema that came from
    * READING a mapped table — a NEW table built from that schema
    * (CTAS/RTAS) writes fresh files under the logical names, so a
    * carried-over mapping would point its schema at physical names
    * its own files never had. Recurses to EVERY nesting level:
    * nested-evolved struct members carry their frozen physical names
    * inside the dataType, and a top-level-only strip would leave the
    * new table requesting member names its own files never carried
    * (every such member would silently read NULL). */
  private def freshSchema(schema: StructType): StructType = {
    def freshType(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: StructType => StructType(s.fields.map(freshField))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = freshType(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = freshType(m.valueType))
      case other => other
    }
    def freshField(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.types.StructField = {
      val cleaned =
        if (!f.metadata.contains(PhysicalKey) &&
            !f.metadata.contains(BucketKey) &&
            !f.metadata.contains(BucketPosKey)) f.metadata
        else new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PhysicalKey)
          .remove(BucketKey) // a CTAS write is NOT bucketed
          .remove(BucketPosKey).build()
      f.copy(metadata = cleaned, dataType = freshType(f.dataType))
    }
    StructType(schema.fields.map(freshField))
  }

  /** Content replace that may also REPLACE THE SCHEMA — the RTAS /
    * overwriteSchema shape: land the batch and commit (batch rows,
    * batch schema) as the next version. Prior versions stay readable
    * under their own schemas; tracked stats carry forward for
    * columns the new schema still names; the stream replay marker
    * resets exactly like [[overwrite]] (a full replace is a stream
    * restart). */
  def overwriteAs(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val v = latestVersion(spark, root)
    require(v >= 0, s"manifest table at $root does not exist — create() first")
    val schema = freshSchema(df.schema)
    val stats = statsCols(spark, root, v).filter(schema.fieldNames.contains)
    // the REPLACED schema carries no bucket claim (freshSchema), so
    // the landing must not inherit the old layout either — its key
    // may not even exist in the new schema
    val rows = landFiles(df, root, stats, bucketAs = Some(None))
    // a full content replace retires pending equality deletes with
    // the content they applied to; the REPLACED table definition also
    // starts constraint-free (the old invariants may reference
    // columns the new schema lacks — RTAS re-declares, not inherits)
    commitLoop(spark, root, batch = Some(-1L)) { (_, meta) =>
      Some((rows, meta.copy(schema = schema, eq = Nil, constraints = Nil)))
    }.get
  }

  /** Conform an append batch to the table schema: order by the
    * schema's column order, CAST each column to its declared type
    * (the Delta-style implicit safe cast), and RENAME to the field's
    * physical name — a same-name/compatible batch lands with the
    * table's exact physical types under the stable physical column
    * names, so schema-on-read can never meet a file whose parquet
    * types or names drifted; an incompatible type fails analysis. */
  private def conform(df: DataFrame, schema: StructType): DataFrame =
    // casting to the PHYSICAL type routes nested struct members to
    // their frozen physical names (struct casts rename positionally);
    // identical for unmapped tables
    df.select(schema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(relaxedType(physicalType(f.dataType)))
        .as(physicalName(f))): _*)

  /** Create the table with its first rows and the FIXED set of
    * tracked stats columns. Fails if the table already exists.
    * `bucketBy = Some((key, n))` freezes a hash-bucket layout (see
    * [[bucketSpec]]) that every later landing preserves and the
    * catalog scan reports for storage-partitioned joins; `key` may be
    * a comma-separated list for a multi-column bucket key. */
  def create(df: DataFrame, root: String, statsCols: Seq[String],
             bucketBy: Option[(String, Int)] = None): Long = {
    val spark = df.sparkSession
    require(!exists(spark, root), s"manifest table at $root already exists")
    statsCols.foreach(c => require(df.columns.contains(c),
      s"stats column $c is not a table column"))
    // a fresh table writes fresh files — a column mapping (or bucket
    // claim) carried in from READING another table must not leak
    val schema = bucketBy match {
      case Some((k, n)) => withBucketSpec(freshSchema(df.schema), k, n)
      case None         => freshSchema(df.schema)
    }
    val rows = landFiles(df, root, statsCols, bucketAs = Some(bucketBy))
    val (v, key) = VersionedTable.writeKeyed(rows, manifestsRoot(root),
      encodeMeta(Meta(schema)))
    primeManifestCaches(spark, root, v, rows, key)
    v
  }

  /** Append commit — a change set that retires nothing
    * ([[rowDelta]]): land the batch, commit current-manifest ∪ batch.
    * Racing appends serialize through the manifest CAS — both batches
    * survive. Pending equality deletes stay pending; the batch's rows
    * are newer than them. */
  def write(df: DataFrame, root: String): Long =
    rowDelta(df.sparkSession, root, ChangeSet(None, Batch(df)),
      CopyOnWrite).get

  /** WRITE-SIDE SCHEMA EVOLUTION — the Delta `mergeSchema` shape: one
    * append both EVOLVES the table and lands the batch. The incoming
    * frame may carry new top-level columns, new STRUCT members (one
    * level — the grain the nested-evolution machinery serves), and
    * losslessly WIDER primitive types; each becomes the matching
    * metadata-only evolution commit (fresh physical names so stale
    * bytes in live files can never resurrect; narrow stat triplets
    * cast — see [[alterColumns]] / [[alterNestedColumns]] /
    * [[widenColumnType]]) and the batch then lands under the evolved
    * schema with the table's absent columns and members filled NULL.
    * A batch column NARROWER than the table's upcasts at landing (no
    * schema change); anything else — incompatible primitives,
    * type-kind changes, array/map element evolution — refuses with
    * the conflict named: lossy evolution must be an explicit rewrite,
    * never an append side effect. */
  def writeMergeSchema(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val preV = latestVersion(spark, root)
    require(preV >= 0,
      s"manifest table at $root does not exist — create() first")
    val evolved = evolveSchemaFor(spark, root, df.schema)
    val postV = latestVersion(spark, root)
    val schema = tableSchema(spark, root, postV)
    try write(fillForSchema(df, schema), root)
    catch {
      case e: Throwable =>
        // the evolution above is this statement's own side effect —
        // a landing that fails must not leave it behind. COMPENSATE
        // (the RTAS-abort shape): restore the pre-evolution version
        // as a new commit, but only when every commit since preV is
        // provably ours (contiguous evolution versions) AND still the
        // latest (restoreIfCurrent's CAS guard) — a concurrent
        // writer's commit is never rolled back by this append's
        // failure. Fatal errors (interrupt, OOM) propagate without
        // scheduling more driver work. A crash between the evolution
        // and this handler leaves the (additive, reader-safe)
        // evolution behind — the documented weaker-than-atomic
        // residue of compensation.
        if (scala.util.control.NonFatal(e) && evolved.nonEmpty &&
            evolved.sorted == ((preV + 1) to postV).toSeq)
          try restoreIfCurrent(spark, root, preV,
            expectedCurrent = postV): Unit
          catch {
            case c: Throwable if scala.util.control.NonFatal(c) =>
              e.addSuppressed(c)
          }
        throw e
    }
  }

  /** The evolution half of [[writeMergeSchema]], shared by the
    * streaming sink's `mergeSchema` option: diff `incoming` against
    * the table schema and commit the additive changes (a no-op when
    * nothing differs); returns the versions it committed. The
    * change set pre-validates against one schema snapshot — widen
    * validation first (the strictest guard), then the nested parents'
    * pending-equality-delete guard — so an apply-phase refusal can
    * only come from a RACING writer moving the base, and the loop
    * then re-derives the delta fresh: changes a concurrent evolution
    * already made (the two-streams-add-the-same-column case) drop out
    * instead of spuriously failing on "already exists". */
  def evolveSchemaFor(spark: SparkSession, root: String,
                      incoming: StructType): Seq[Long] = {
    val cs = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    var attempt = 0
    // the versions THIS call committed, across retries — the caller's
    // compensation evidence ([[writeMergeSchema]]): a failed landing
    // rolls the evolution back only when these are contiguous from
    // its pre-evolution snapshot (no foreign commit interleaved)
    val committed = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (true) {
      val v = latestVersion(spark, root)
      require(v >= 0,
        s"manifest table at $root does not exist — create() first")
      val schema = tableSchema(spark, root, v)
      val (adds, widens, nestedAdds) = mergeDelta(schema, incoming, cs)
      // a batch LACKING a non-nullable column (or member) outright
      // refuses — relaxing the constraint so NULLs could land would
      // drop a declared invariant as an append side effect
      refuseMissingNonNullable(missingNonNullable(schema, incoming, cs))
      // a non-nullable slot the batch carries NULLABLE may land NULLs
      // — the schema's nullability RELAXES in the same evolution
      // (the present-on-both-sides OR-merge), or every later read
      // plans non-null slots over null bytes
      val relaxes = nullRelaxes(schema, incoming, cs)
      if (adds.isEmpty && widens.isEmpty && nestedAdds.isEmpty &&
          relaxes.isEmpty) return committed.toSeq
      // metadata carried in from READING another table (frozen
      // physical names, bucket claims) must not leak into this
      // table's schema
      val addList = freshSchema(StructType(adds)).fields.toSeq
      try {
        if (widens.nonEmpty) validateWidens(spark, root, widens)
        // every STATIC refusal addColumns/alterNestedColumns could
        // raise is pre-checked here against the same snapshot as the
        // widens, so nothing commits before a doomed change is caught
        if (bucketSpec(schema).isDefined)
          addList.foreach(f => require(f.name != "gb",
            "bucketed tables reserve the column name 'gb' for the " +
              "bucket directory layout"))
        if (nestedAdds.nonEmpty) {
          val eqKeys = metaAt(spark, root, v).eq.flatMap(_.keys).toSet
          nestedAdds.map(_._1).distinct.foreach(p =>
            require(!eqKeys.contains(p),
              s"column $p keys pending equality deletes — run compactEq() " +
                "(or any row-level op / maintenance tick) before evolving " +
                "inside it"))
        }
        widens.foreach { case (path, to) =>
          committed += widenColumnTypePath(spark, root, path, to) }
        if (addList.nonEmpty) committed += addColumns(spark, root, addList)
        nestedAdds.groupBy(_._1).foreach { case (parent, fields) =>
          committed += alterNestedColumns(spark, root, Seq(parent),
            freshSchema(StructType(fields.map(_._2))).fields.toSeq,
            Nil)
        }
        if (relaxes.nonEmpty)
          committed += commitLoop(spark, root) { (rec, meta) =>
            Some((manifest(spark, rec),
              meta.copy(schema = relaxNullability(meta.schema, relaxes))))
          }.get
        return committed.toSeq
      } catch {
        case _: IllegalArgumentException if attempt < 3 =>
          // racing evolution (or a genuinely refused change — the
          // re-derived delta then repeats the refusal and the final
          // attempt rethrows it)
          attempt += 1
      }
    }
    committed.toSeq // unreachable — the loop exits by return/throw
  }

  /** Dotted paths of non-nullable schema columns/struct members the
    * merged batch carries NULLABLE — the Delta nullability-merge for
    * slots PRESENT on both sides: merged nullability is the OR of the
    * two. Slots the batch LACKS entirely are NOT relaxed — they
    * refuse ([[missingNonNullable]]): an opt-in append must never
    * permanently weaken a NOT NULL constraint as a side effect of
    * omitting the column. */
  private def nullRelaxes(schema: StructType, incoming: StructType,
                          caseSensitive: Boolean): Seq[Seq[String]] = {
    def key(n: String): String = if (caseSensitive) n else n.toLowerCase
    val have = incoming.fields.map(f => key(f.name) -> f).toMap
    schema.fields.toSeq.flatMap { f =>
      have.get(key(f.name)) match {
        case None => Nil
        case Some(in) =>
          val top = if (!f.nullable && in.nullable) Seq(Seq(f.name)) else Nil
          val nested = (f.dataType, in.dataType) match {
            case (t: StructType, b: StructType) =>
              t.fields.toSeq.flatMap { m =>
                if (m.nullable) Nil
                else b.fields.find(x => key(x.name) == key(m.name)) match {
                  case None => Nil
                  case Some(bm) if bm.nullable => Seq(Seq(f.name, m.name))
                  case _ => Nil
                }
              }
            case _ => Nil
          }
          top ++ nested
      }
    }
  }

  /** Dotted paths of NON-NULLABLE schema columns/struct members the
    * merged batch does not carry at all — [[fillForSchema]] would
    * fill NULL into a declared non-null slot. [[evolveSchemaFor]]
    * REFUSES these (the Delta rule: a write missing a non-nullable
    * column fails; the nullability OR-merge applies only to slots
    * present on both sides). The caller supplies the column or
    * relaxes nullability with an explicit ALTER first. A batch
    * carrying the parent struct NULLABLE is the present-side relax
    * ([[nullRelaxes]]); this check is only for absent slots. */
  private def missingNonNullable(schema: StructType, incoming: StructType,
                                 caseSensitive: Boolean): Seq[Seq[String]] = {
    def key(n: String): String = if (caseSensitive) n else n.toLowerCase
    val have = incoming.fields.map(f => key(f.name) -> f).toMap
    schema.fields.toSeq.flatMap { f =>
      have.get(key(f.name)) match {
        case None =>
          if (f.nullable) Nil else Seq(Seq(f.name))
        case Some(in) =>
          (f.dataType, in.dataType) match {
            case (t: StructType, b: StructType) =>
              t.fields.toSeq.flatMap { m =>
                if (m.nullable ||
                    b.fields.exists(x => key(x.name) == key(m.name))) Nil
                else Seq(Seq(f.name, m.name))
              }
            case _ => Nil
          }
      }
    }
  }

  private def refuseMissingNonNullable(paths: Seq[Seq[String]]): Unit =
    require(paths.isEmpty,
      s"mergeSchema cannot land a batch missing non-nullable " +
        s"column(s) ${paths.map(_.mkString(".")).mkString(", ")} — " +
        "supply the column(s), or relax nullability first with an " +
        "explicit ALTER; an append must never drop a NOT NULL " +
        "constraint as a side effect of omitting the column")

  private def relaxNullability(s: StructType, paths: Seq[Seq[String]])
      : StructType = {
    val tops = paths.collect { case Seq(n) => n }.toSet
    val members = paths.collect { case Seq(p, m) => (p, m) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    StructType(s.fields.map { f =>
      val f2 = if (tops(f.name)) f.copy(nullable = true) else f
      (members.get(f.name), f2.dataType) match {
        case (Some(ms), st: StructType) =>
          f2.copy(dataType = StructType(st.fields.map(m =>
            if (ms(m.name)) m.copy(nullable = true) else m)))
        case _ => f2
      }
    })
  }

  /** Whether [[evolveSchemaFor]] would change anything — the pure
    * guard the analyzer-side auto-merge rule fires on. Throws the
    * same refusal on a LOSSY conflict: with auto-merge requested, the
    * named-conflict message beats the generic assignment error. */
  private[graft] def needsMergeEvolution(schema: StructType,
                                         incoming: StructType,
                                         caseSensitive: Boolean): Boolean = {
    val (a, w, n) = mergeDelta(schema, incoming, caseSensitive)
    refuseMissingNonNullable(
      missingNonNullable(schema, incoming, caseSensitive))
    a.nonEmpty || w.nonEmpty || n.nonEmpty ||
      nullRelaxes(schema, incoming, caseSensitive).nonEmpty
  }

  /** The post-evolution LOGICAL schema [[evolveSchemaFor]] would
    * commit for `incoming` — computed WITHOUT committing anything.
    * This is what the analyzer-side auto-merge rule
    * ([[graft.plans.GraftSchemaMergeRule]]) resolves the append
    * against: the relation REPORTS the merged schema so resolution
    * succeeds, and the evolution itself commits inside the write
    * ([[writeMergeSchema]]) where a failed landing compensates it
    * away — an analyzed-but-never-executed plan commits nothing.
    * Refuses exactly what evolveSchemaFor refuses (lossy conflicts,
    * missing non-nullable slots). Field metadata (frozen physical
    * names) is resolution-irrelevant here; the write re-derives the
    * real evolution against the committed schema. */
  private[graft] def mergedSchemaPreview(schema: StructType,
                                         incoming: StructType,
                                         caseSensitive: Boolean)
      : StructType = {
    refuseMissingNonNullable(
      missingNonNullable(schema, incoming, caseSensitive))
    val (adds, widens, nestedAdds) = mergeDelta(schema, incoming,
      caseSensitive)
    def setType(s: StructType, path: Seq[String],
                to: org.apache.spark.sql.types.DataType): StructType =
      StructType(s.fields.map { f =>
        if (f.name != path.head) f
        else if (path.length == 1) f.copy(dataType = to)
        else f.copy(dataType =
          setType(f.dataType.asInstanceOf[StructType], path.tail, to))
      })
    var out = schema
    widens.foreach { case (p, t) => out = setType(out, p, t) }
    // evolution adds are always nullable — existing rows read NULL
    out = StructType(out.fields ++ adds.map(_.copy(nullable = true)))
    nestedAdds.groupBy(_._1).foreach { case (parent, fs) =>
      out = StructType(out.fields.map { f =>
        if (f.name != parent) f
        else f.copy(dataType = StructType(
          f.dataType.asInstanceOf[StructType].fields ++
            fs.map(_._2.copy(nullable = true))))
      })
    }
    relaxNullability(out, nullRelaxes(schema, incoming, caseSensitive))
  }

  /** The additive difference `incoming` demands of `schema`: (new
    * top-level columns, lossless widens by dotted path, new struct
    * members by parent). Names match under the session's resolution
    * (case-insensitive by default — a batch column differing only in
    * case must NOT become a duplicate the resolver then finds
    * ambiguous). Refuses any conflict outside that language, and
    * refuses a NEW column/member of (or containing) the untyped-NULL
    * VoidType — parquet cannot land it, and committing it first would
    * strand the table. */
  private def mergeDelta(schema: StructType, incoming: StructType,
                         caseSensitive: Boolean)
      : (Seq[org.apache.spark.sql.types.StructField],
         Seq[(Seq[String], org.apache.spark.sql.types.DataType)],
         Seq[(String, org.apache.spark.sql.types.StructField)]) = {
    def refuse(name: String, have: org.apache.spark.sql.types.DataType,
               got: org.apache.spark.sql.types.DataType): Nothing =
      throw new IllegalArgumentException(
        s"mergeSchema cannot evolve column $name: table has " +
          s"${have.simpleString}, batch has ${got.simpleString} — only " +
          "new columns, new struct members, and lossless primitive " +
          "widenings evolve on write; a lossy change needs an explicit " +
          "rewrite")
    // compare types with field METADATA (frozen physical names on
    // mapped tables) and nullability stripped — neither is a schema
    // difference a batch can or should evolve
    def bare(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name, bare(f.dataType))))
      case a: org.apache.spark.sql.types.ArrayType =>
        org.apache.spark.sql.types.ArrayType(bare(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        org.apache.spark.sql.types.MapType(bare(m.keyType), bare(m.valueType))
      case other => other
    }
    import org.apache.spark.sql.types.NullType
    def sameName(a: String, b: String): Boolean =
      if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    def hasNullType(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case NullType => true
        case s: StructType => s.fields.exists(f => hasNullType(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType =>
          hasNullType(a.elementType)
        case mp: org.apache.spark.sql.types.MapType =>
          hasNullType(mp.keyType) || hasNullType(mp.valueType)
        case _ => false
      }
    def refuseVoid(name: String): Nothing =
      throw new IllegalArgumentException(
        s"mergeSchema cannot add column $name: its type carries the " +
          "untyped NULL (VOID) — cast the batch column to a concrete " +
          "type first (parquet cannot land VOID, and committing the " +
          "column before the landing fails would strand the table)")
    val adds = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    val widens =
      Seq.newBuilder[(Seq[String], org.apache.spark.sql.types.DataType)]
    val nestedAdds =
      Seq.newBuilder[(String, org.apache.spark.sql.types.StructField)]
    incoming.fields.foreach { in =>
      schema.fields.find(f => sameName(f.name, in.name)) match {
        case None =>
          if (hasNullType(in.dataType)) refuseVoid(in.name)
          adds += org.apache.spark.sql.types.StructField(
            in.name, in.dataType, nullable = true)
        case Some(cur) => (bare(cur.dataType), bare(in.dataType)) match {
          case (a, b) if a == b => ()
          // an untyped-NULL batch column against an EXISTING column is
          // just NULL values — the landing casts them to the table type
          case (_, NullType) => ()
          // evolution paths speak the TABLE's casing — the batch's
          // only matters for brand-new names
          case (a: StructType, b: StructType) =>
            b.fields.foreach { m =>
              a.fields.find(f => sameName(f.name, m.name)) match {
                case None =>
                  if (hasNullType(m.dataType))
                    refuseVoid(s"${cur.name}.${m.name}")
                  nestedAdds += cur.name ->
                    org.apache.spark.sql.types.StructField(
                      m.name, m.dataType, nullable = true)
                case Some(am) if am.dataType == m.dataType => ()
                case Some(_) if m.dataType == NullType => ()
                case Some(am) if widenable(am.dataType, m.dataType) =>
                  widens += ((Seq(cur.name, am.name), m.dataType))
                case Some(am) if widenable(m.dataType, am.dataType) => ()
                case Some(am) =>
                  refuse(s"${cur.name}.${am.name}", am.dataType, m.dataType)
              }
            }
          case (a, b) if widenable(a, b) => widens += ((Seq(cur.name), b))
          case (a, b) if widenable(b, a) => ()
          case (a, b) => refuse(in.name, a, b)
        }
      }
    }
    // INTRA-batch conflicts: two new columns (or two new members of
    // one struct) differing only in case would both pass the
    // against-the-table diff and commit — poisoning every later
    // lookup under case-insensitive resolution with AMBIGUOUS_REFERENCE
    val addList = adds.result()
    val nestedList = nestedAdds.result()
    if (!caseSensitive) {
      addList.groupBy(_.name.toLowerCase).foreach { case (_, fs) =>
        require(fs.length == 1,
          s"mergeSchema batch carries new columns differing only in " +
            s"case: ${fs.map(_.name).mkString(", ")} — the session's " +
            "case-insensitive resolution could never tell them apart")
      }
      nestedList.groupBy(x => (x._1, x._2.name.toLowerCase)).foreach {
        case (_, fs) => require(fs.length == 1,
          s"mergeSchema batch carries new struct members differing " +
            s"only in case under ${fs.head._1}: " +
            s"${fs.map(_._2.name).mkString(", ")}")
      }
    }
    (addList, widens.result(), nestedList)
  }

  /** Conform a batch to the table's LOGICAL schema for landing under
    * [[writeMergeSchema]]: absent columns fill typed NULL, struct
    * columns rebuild BY NAME in table member order (absent members
    * NULL, a NULL struct stays NULL — never a struct of NULLs), and
    * present columns pass through for the landing's own cast to
    * upcast narrower primitives. */
  private[graft] def fillForSchema(df: DataFrame,
                                   schema: StructType): DataFrame = {
    // name matching follows the session's resolution (the same rule
    // mergeDelta diffs under) — a batch column differing only in case
    // must fill the table column, not be silently NULLed
    val cs = df.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def key(n: String): String = if (cs) n else n.toLowerCase
    val have = df.schema.fields.map(f => key(f.name) -> f.dataType).toMap
    df.select(schema.fields.toIndexedSeq.map { f =>
      (have.get(key(f.name)), f.dataType) match {
        case (None, _) =>
          lit(null).cast(relaxedType(f.dataType)).as(f.name)
        case (Some(b: StructType), t: StructType)
            if b.fields.map(x => key(x.name) -> x.dataType).toSeq !=
               t.fields.map(x => key(x.name) -> x.dataType).toSeq =>
          val bKeys = b.fields.map(x => key(x.name)).toSet
          val members = t.fields.toIndexedSeq.map { m =>
            if (bKeys.contains(key(m.name)))
              col(f.name).getField(m.name)
                .cast(relaxedType(m.dataType)).as(m.name)
            else lit(null).cast(relaxedType(m.dataType)).as(m.name)
          }
          org.apache.spark.sql.functions
            .when(col(f.name).isNull, lit(null))
            .otherwise(org.apache.spark.sql.functions.struct(members: _*))
            .as(f.name)
        case _ => col(f.name).cast(relaxedType(f.dataType)).as(f.name)
      }
    }: _*)
  }

  /** OVERWRITE commit (SQL TRUNCATE + INSERT, `writeTo(...).replace`):
    * the next manifest references ONLY `df`'s freshly landed files;
    * prior versions stay time-travelable until vacuum. */
  def overwrite(df: DataFrame, root: String): Long = {
    val spark = df.sparkSession
    val v = latestVersion(spark, root)
    require(v >= 0, s"manifest table at $root does not exist — create() first")
    val schema = tableSchema(spark, root, v)
    require(df.columns.sorted.sameElements(schema.fieldNames.sorted),
      s"overwrite schema ${df.columns.sorted.mkString(",")} != table " +
        s"schema ${schema.fieldNames.sorted.mkString(",")}")
    val rows = landFiles(conform(df, schema), root, statsCols(spark, root, v))
    // a full content replace is a stream RESTART: stamp the reset
    // tombstone so the replay marker does not carry into the table's
    // new life — the strict-discipline error message tells users to
    // overwrite() exactly to re-point a fresh-checkpoint stream here
    commitLoop(spark, root, batch = Some(-1L)) { (_, meta) =>
      Some((rows, meta.copy(eq = Nil)))
    }.get
  }

  /** The table's stream replay marker — the highest batch id a
    * [[writeBatch]]/[[mergeMorBatch]] commit stamped (-1 when none).
    * Lets a sink skip per-batch work it can prove is a replay before
    * running any job over the micro-batch. */
  def lastAppliedBatch(spark: SparkSession, root: String): Long =
    VersionedTable.lastAppliedBatch(spark, manifestsRoot(root))

  /** Strict replay discipline of the batch-stamped commits
    * ([[rowDelta]]) against the marker `last`: an id EQUAL to it is
    * the redelivered micro-batch (no-op — the exactly-once case); an
    * id BELOW it cannot come from the same checkpoint (offsets are
    * monotone per checkpoint), so it is a DIFFERENT query's stream
    * aimed at this table — and silently swallowing its batches as
    * "replays" until its ids catch up would be wholesale data loss.
    * Returns true for the no-op replay; throws on the mismatch. */
  private def isReplay(batchId: Long, last: Long): Boolean = {
    require(batchId >= last,
      s"batch id $batchId is BELOW the table's replay marker $last — " +
        "this stream's checkpoint does not match the table's history " +
        "(a fresh checkpoint restarts ids at 0); write to a fresh " +
        "table, or overwrite() the table to restart it with the stream")
    batchId == last
  }

  /** Stream-idempotent append — [[VersionedTable.writeBatch]] for the
    * manifest format: the producing micro-batch id commits atomically
    * with the manifest version, and a batch id at or below the
    * current version's marker is a no-op — which is exactly the
    * foreachBatch redelivery case after a restart. Cost ∝ batch (the
    * manifest-append grain), so a streaming ingest into a 100 TB
    * table stays per-batch work. Returns None on a detected replay. */
  def writeBatch(df: DataFrame, root: String, batchId: Long): Option[Long] =
    rowDelta(df.sparkSession, root,
      ChangeSet(None, Batch(df), batchId = Some(batchId)), CopyOnWrite)

  /** Carried entries `m` plus freshly landed ones. Landed entries lack
    * the bloom columns (NULL: not indexed yet, see [[buildBloom]]) and
    * any stats column a racing evolution added (NULL: unknown,
    * conservative); the projection pins `m`'s column set, so stats a
    * racing drop removed never union back in. */
  private def withLanded(m: DataFrame, landed: DataFrame): DataFrame =
    m.unionByName(landed, allowMissingColumns = true)
      .select(m.columns.toIndexedSeq.map(col): _*)

  /** The one manifest commit loop — the [[VersionedTable]] rewrite
    * loop over manifests: compute the next manifest AND its [[Meta]]
    * against a pinned base version, commit only as base+1; on conflict
    * recompute. `next(rec, meta)` receives the base's commit record
    * (its version is `rec.key.version`) and its Meta; returning
    * it unchanged CARRIES schema, pending equality deletes,
    * constraints, NDV and adoption forward — correct for commits that
    * neither read nor rewrite rows (appends, evolution, renames).
    * Commits that START FROM THE EFFECTIVE VIEW ([[effectiveManifest]]
    * — every row-level op, optimize, compaction) return `eq = Nil`:
    * their manifest already materialized the deletes as vectors, so
    * carrying the registry would re-apply them. `next` may ABSTAIN
    * (None) after seeing the freshly resolved base — [[writeBatch]]'s
    * per-attempt replay re-check — which ends the loop with no commit.
    * `batch` stamps the stream replay marker (-1: a restart); None
    * carries the base's. An adopted base refuses unless `adopting`. */
  private def commitLoop(spark: SparkSession, root: String,
                         batch: Option[Long] = None,
                         validateCons: Boolean = true,
                         adopting: Boolean = false)
                        (next: (VersionedTable.Commit, Meta) =>
                          Option[(DataFrame, Meta)])
      : Option[Long] = {
    val maxAttempts = 12
    var attempt = 0
    while (attempt < maxAttempts) {
      val base = latestVersion(spark, root)
      require(base >= 0, s"manifest table at $root has no committed version")
      val rec = recordAt(spark, root, base)
      val meta = metaOf(rec)
      if (!adopting) meta.adopted.foreach { dir =>
        throw new UnsupportedOperationException(
          s"manifest table at $root mirrors $dir: adopt() is its only " +
            "writer — change the files under that directory, then adopt() " +
            "again")
      }
      val (rows0, out) = next(rec, meta) match {
        case Some(rs) => rs
        case None     => return None
      }
      // CHECK-constraint enforcement at the ONE place rows enter a
      // version: freshly landed files are exactly the NULL-seq
      // manifest rows (carried rows already satisfied the constraints
      // of the version that landed them, which every later commit
      // carries or explicitly re-decides). Validating INSIDE the
      // attempt closes the race with a concurrent addConstraint —
      // if this base moves, the retry re-reads the NEW base's set.
      // `validateCons = false` is reserved for provably
      // row-preserving relayouts (optimize/compaction), whose extra
      // full read would double their cost for rows that cannot have
      // changed.
      if (validateCons && out.constraints.nonEmpty) {
        val fresh = rows0.filter(col("seq").isNull)
          .select(col("path"), col("size")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        if (fresh.nonEmpty)
          validateConstraints(spark, fresh, out.schema, out.constraints)
      }
      // freshly landed rows carry NULL seq — stamp them with THIS
      // attempt's target version (carried rows keep their added-at
      // version; a CAS retry re-stamps against its own base)
      val rows = rows0.withColumn("seq",
        coalesce(col("seq"), lit(base + 1)))
      VersionedTable.tryCommitAs(rows, manifestsRoot(root), base,
          encodeMeta(out), batch.getOrElse(rec.batch)) match {
        case Some((v, key)) =>
          primeManifestCaches(spark, root, v, rows, key)
          return Some(v)
        case None => attempt += 1
      }
    }
    sys.error(s"manifest table at $root: commit lost the race " +
      s"$maxAttempts times — serialize the writers or shard the table")
  }

  /** Data-file paths of `base` that the batch keys can possibly touch
    * — exclusion by proof over the manifest's own envelopes: a file
    * is UNtouched only when, for some key column, every batch key
    * provably misses its [min,max]. Unknown envelopes (untracked key
    * column, NULL cells) degrade to touched. One metadata-scale
    * broadcast join: |files| × |distinct batch keys| envelope checks,
    * distributed. */
  private def touchedPaths(spark: SparkSession,
                           m: DataFrame, keys: DataFrame,
                           keyCols: Seq[String],
                           dataSchema: StructType): Seq[String] = {
    // only TRACKED key columns contribute exclusion proofs; with none
    // tracked every file is (honestly) touched. Manifest stat columns
    // are keyed by PHYSICAL name (stable under RENAME COLUMN); the
    // batch keys frame speaks logical.
    val phys = keyCols.map(k => k -> physicalFor(dataSchema, k)).toMap
    val tracked = keyCols.filter(k => m.columns.contains(s"${phys(k)}_min"))
    val byEnvelope: Seq[String] =
      if (tracked.isEmpty)
        m.select(col("path")).collect().map(_.getString(0)).sorted.toSeq
      else {
        val cond = tracked.map { k =>
          val miss = (col(k) < col(s"${phys(k)}_min")) ||
            (col(k) > col(s"${phys(k)}_max"))
          !(miss <=> lit(true)) // unknown envelope → possibly contained
        }.reduce(_ && _)
        broadcast(m.select(col("path") +:
            tracked.flatMap(k =>
              Seq(col(s"${phys(k)}_min"), col(s"${phys(k)}_max"))): _*))
          .join(keys.select(tracked.map(col): _*).distinct(), cond)
          .select(col("path")).distinct()
          .collect().map(_.getString(0)).sorted.toSeq
      }
    bloomRefine(spark, m, byEnvelope, keys, keyCols, dataSchema)
  }

  /** Intersect the envelope-touched set with the per-file BLOOM bits
    * `m` carries for a key column — the case envelopes cannot serve:
    * on a hash-distributed key every file's [min,max] spans every
    * probe, so the envelope search honestly degrades to rewriting the
    * whole table; the bits the reads already consult ([[buildBloom]])
    * answer the same point-membership question for the touched-file
    * search, making point-key merges file-granular on hash layouts
    * too.
    *
    * Soundness: blooms have no false negatives, so dropping a no-hit
    * file can never lose a matched key; files without bits (landed
    * after the last [[buildBloom]] call, or every file when none was
    * built) stay conservatively touched. Cost: one broadcast of the
    * distinct batch key hashes × the touched files' bits, per indexed
    * key column. */
  private def bloomRefine(spark: SparkSession, m: DataFrame,
                          envelopeTouched: Seq[String], keys: DataFrame,
                          keyCols: Seq[String],
                          dataSchema: StructType): Seq[String] = {
    // bloom columns are keyed by PHYSICAL column name (the bits index
    // file bytes, which rename never rewrites); the keys frame is
    // probed by the LOGICAL name
    val indexed = keyCols.map(k => k -> bloomCol(physicalFor(dataSchema, k)))
      .filter { case (_, bc) => m.columns.contains(bc) }
    if (indexed.isEmpty || envelopeTouched.isEmpty) return envelopeTouched
    graft.functions.VectorExpressions.ensureRegistered(spark)
    // ONE pass for ALL indexed key columns (a composite key would
    // otherwise pay one serial semi-join + probe-join pair PER
    // column): the touched files' bits union tagged by column, each
    // column's distinct key HASHES union likewise, then one probe
    // join finds the hits and one anti join yields every (column,
    // path) whose bits prove it key-free — those paths drop. The
    // touched-set restriction is a broadcast SEMI JOIN, not an isin()
    // (an In with 100k literal children would blow up the driver);
    // probes cast to the TABLE's column type (the bits hash stored
    // values under the schema's type — a narrower-typed key would
    // hash differently; NULL keys probe nothing); and the DISTINCT
    // KEYS broadcast, never the bits (numBits/8 bytes × 100k files
    // would be GBs).
    val spk = spark
    import spk.implicits._
    val touchedDf = envelopeTouched.toDF("path")
    val idxAll = indexed.map { case (c, bc) =>
      m.filter(col(bc).isNotNull)
        .select(lit(c).as("c"), col("path"), col(bc).as("bloom"))
    }.reduce(_ unionByName _)
      .join(broadcast(touchedDf), Seq("path"), "left_semi")
    val keyHashes = indexed.map { case (c, _) =>
      keys.select(col(c).cast(dataSchema(c).dataType).as("k"))
        .filter(col("k").isNotNull).distinct()
        .select(lit(c).as("kc"), xxhash64(col("k")).as("h"))
    }.reduce(_ unionByName _)
    val hits = idxAll.join(broadcast(keyHashes),
        col("c") === col("kc") &&
          graft.functions.VectorExpressions.bloomMightContain(
            col("bloom"), col("h")))
      .select(col("c"), col("path")).distinct()
    val excluded = idxAll.select(col("c"), col("path"))
      .join(hits, Seq("c", "path"), "left_anti")
      .select(col("path")).distinct()
      .collect().map(_.getString(0)).toSet
    envelopeTouched.filterNot(excluded.contains)
  }

  // ------------------------------------------------------ row deltas
  //
  // Every row-level op is ONE CHANGE SET — rows to retire (by key or by
  // predicate) and rows to land — committed by [[rowDelta]], which
  // encodes the retirement at one of three grains (Iceberg's
  // `RowDelta`, https://iceberg.apache.org/spec/#row-level-deletes;
  // Delta's deletion vectors are the position encoding):
  //   - COPY-ON-WRITE: the touched files' survivors are rewritten.
  //     Writes pay the touched bytes, reads nothing;
  //   - DELETION VECTORS: the touched files keep their bytes, and the
  //     matched positions OR into a bitset sidecar per file. Writes pay
  //     the touched-file scan, reads skip the positions;
  //   - EQUALITY DELETES (keys only): the keys land as a key file named
  //     in the version's [[Meta]]; nothing reads the target, and reads
  //     resolve the keys ([[eqProbes]], [[resolveEq]]).
  // The grains retire the same rows, so they read back the same table.
  // Cost ∝ touched files + batch (∝ batch for equality deletes), never
  // the table — but untracked columns have no envelopes, so their
  // predicates touch every file.

  /** The rows a change set retires: those whose `keyCols` match a row
    * of `keys`, or those where `cond` is TRUE (NULL keeps the row, as
    * in SQL). `dropWhole` lets provably all-matching files leave unread
    * ([[predicateFiles]]) — DELETE-shaped sets only. */
  private sealed trait Retire
  private final case class ByKeys(keys: DataFrame, keyCols: Seq[String])
      extends Retire
  private final case class ByPredicate(cond: Column, dropWhole: Boolean)
      extends Retire

  /** The rows a change set lands: none; `rows` (landed once for every
    * CAS attempt); or the matched rows with `sets` assigned (values
    * CAST to the declared types, pre-update values on the right). */
  private sealed trait Land
  private case object NoRows extends Land
  private final case class Batch(rows: DataFrame) extends Land
  private final case class Assign(sets: Seq[(String, Column)]) extends Land

  /** One row-level change. `evolve`: the batch may add columns (older
    * rows read NULL there) and omit some (its rows land NULL there);
    * else its columns must equal the table's. `batchId` stamps the
    * stream replay marker; a replayed id commits nothing. A set that
    * retires nothing is an append. */
  private final case class ChangeSet(retire: Option[Retire], land: Land,
                                     evolve: Boolean = false,
                                     batchId: Option[Long] = None)

  private sealed trait Grain
  private case object CopyOnWrite extends Grain
  private case object Vectors extends Grain
  private case object EqDeletes extends Grain

  /** Commit one change set at `grain`. Each CAS attempt, against its
    * pinned base: the replay guard; then, except for equality deletes
    * (which append an [[EqEntry]] for the key file), [[retire]] over
    * the base's effective view; then the batch, under the base's schema
    * widened by the batch's new columns only (a racing writer's
    * evolution or drop is kept). The batch and the key file land once
    * for every attempt. None only for a replayed `batchId`. */
  private def rowDelta(spark: SparkSession, root: String, cs: ChangeSet,
                       grain: Grain): Option[Long] = {
    // a replayed id is a no-op before any work; the commit loop
    // re-checks it against every attempt's base
    if (cs.batchId.exists(isReplay(_, lastAppliedBatch(spark, root))))
      return None
    val v = latestVersion(spark, root)
    require(v >= 0, s"manifest table at $root does not exist — create() first")
    val schema0 = tableSchema(spark, root, v)
    cs.retire match {
      case Some(ByKeys(keys, keyCols)) =>
        require(keyCols.nonEmpty,
          "a keyed row-level op requires at least one key column")
        // the key must be REAL in every mode: an evolving batch missing
        // a key column would null-fill it and land unmatchable rows
        require(keyCols.forall(keys.columns.contains),
          s"merge batch is missing key columns: " +
            keyCols.filterNot(keys.columns.contains).mkString(", "))
      case Some(ByPredicate(_, _)) =>
        require(grain != EqDeletes, "equality deletes retire keys only")
      case None =>
    }
    // the batch's GENUINELY new columns, the only fields an attempt may
    // widen its base by; NULLABLE whatever the batch says, since every
    // older file lacks them and the reader enforces nullability
    val (newFields, batch) = cs.land match {
      case Batch(rows) =>
        if (!cs.evolve)
          require(rows.columns.sorted.sameElements(schema0.fieldNames.sorted),
            s"batch schema ${rows.columns.sorted.mkString(",")} != table " +
              s"schema ${schema0.fieldNames.sorted.mkString(",")}")
        val fresh = rows.schema.fields.toSeq
          .filterNot(f => schema0.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        val wide = StructType(schema0.fields ++ fresh)
        val padded = wide.fieldNames.filterNot(rows.columns.contains)
          .foldLeft(rows)((df, c) =>
            df.withColumn(c, lit(null).cast(wide(c).dataType)))
        (fresh, Some((padded, wide)))
      case _ => (Nil, None)
    }
    (cs.retire, batch) match {
      case (Some(ByPredicate(cond, _)), Some((rows, _))) =>
        // landing rows in place of a predicate's region REPLACES it: a
        // landed row outside the region would survive the next replace
        require(rows.filter(!coalesce(cond, lit(false))).limit(1).count() == 0L,
          "replaceWhere batch contains rows NOT matching the predicate — " +
            "the operation replaces the predicate's region, so every " +
            "inserted row must satisfy it (use write() to append outside it)")
      case _ =>
    }
    lazy val landed = batch.map { case (rows, wide) =>
      landFiles(conform(rows, wide), root, statsCols(spark, root, v)) }
    // the delete's key file: the distinct keys CAST to the table's
    // declared types (resolution compares against conformed stored
    // values — a narrower-typed batch key must not miss)
    lazy val keyFile: String = {
      val Some(ByKeys(keys, keyCols)) = cs.retire: @unchecked
      val dir = s"${eqRoot(root)}/${java.util.UUID.randomUUID()}"
      keys.select(keyCols.toIndexedSeq.map(c =>
        col(c).cast(schema0(c).dataType).as(c)): _*).distinct()
        .write.parquet(dir)
      canon(dir)
    }
    commitLoop(spark, root, batch = cs.batchId,
        validateCons = cs.land != NoRows) { (rec, meta) =>
      // a zombie driver racing its restarted successor passes the check
      // above; re-checked per attempt, the CAS loser's retry never
      // double-applies the batch (its landing awaits vacuum's TTL)
      if (cs.batchId.exists(isReplay(_, rec.batch))) None
      else {
        val base = rec.key.version
        val schema = StructType(meta.schema.fields ++
          newFields.filterNot(f => meta.schema.fieldNames.contains(f.name)))
        val (next, eq) = (grain, cs.retire) match {
          case (_, None) => (manifest(spark, rec), meta.eq)
          case (EqDeletes, Some(ByKeys(_, keyCols))) =>
            (manifest(spark, rec),
              meta.eq :+ EqEntry(keyFile, base + 1, keyCols))
          case (_, Some(r)) =>
            (retire(spark, root, rec, r, cs.land, grain, schema), Nil)
        }
        Some((landed.fold(next)(withLanded(next, _)),
          meta.copy(schema = schema, eq = eq)))
      }
    }
  }

  /** The next manifest with `r`'s rows retired from `rec`'s EFFECTIVE
    * view ([[effectiveManifest]]: pending equality deletes materialize
    * too) and an [[Assign]]'s updated rows landed: the touched files
    * ([[keyedFiles]], [[predicateFiles]]) read once ([[readFilesDv]]),
    * then their survivors rewritten or their matches vectored. */
  private def retire(spark: SparkSession, root: String,
                     rec: VersionedTable.Commit, r: Retire, land: Land,
                     grain: Grain, schema: StructType): DataFrame = {
    val (m, files) = effectiveManifest(spark, root, rec)
    val stats = statsOf(m)
    val (dropped, touched) = r match {
      case ByKeys(keys, keyCols) =>
        (Set.empty[String], keyedFiles(spark, m, files, keys, keyCols, schema))
      case ByPredicate(cond, dropWhole) =>
        predicateFiles(spark, m, files, cond, schema, dropWhole)
    }
    val kept = m.filter(!col("path").isin(dropped.toSeq: _*))
    // nothing to read: an aligned op commits metadata (and its batch)
    // alone — an empty landing would still write a 0-row file
    if (touched.isEmpty) return kept
    val sets = land match {
      case Assign(s) =>
        s.foreach { case (c, _) => require(schema.fieldNames.contains(c),
          s"assignment target $c is not a table column") }
        Some(s)
      case _ => None
    }
    def assigned(df: DataFrame, matched: Column): DataFrame =
      df.select(schema.fields.toIndexedSeq.map { f =>
        sets.get.find(_._1 == f.name) match {
          case Some((_, v)) =>
            when(matched, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    grain match {
      case CopyOnWrite =>
        // touched reads apply the files' vectors (a raw read would
        // resurrect deleted rows into the rewrite); the rewritten files
        // carry none
        val live = readFilesDv(spark, schema, touched.map(_.file),
          touched.map(_.dvRows).sum)
        val rewritten = r match {
          case ByKeys(keys, keyCols) =>
            live.join(keys.select(keyCols.map(col): _*).distinct(), keyCols,
              "left_anti")
          case ByPredicate(cond, _) =>
            val matched = coalesce(cond, lit(false))
            if (sets.isDefined) assigned(live, matched) else live.filter(!matched)
        }
        withLanded(kept.filter(!col("path").isin(touched.map(_.path): _*)),
          landFiles(physSelect(rewritten, schema), root, stats))
      case _ =>
        // a retirement may re-match rows a vector already deleted:
        // re-setting a set bit changes nothing, so only an UPDATE —
        // whose matched rows land again — reads through the vectors
        val live = readFilesDv(spark, schema,
          touched.map(f => if (sets.isDefined) f.file else (f.path, f.size, None)),
          if (sets.isDefined) touched.map(_.dvRows).sum else 0L,
          positions = true)
        val matched = r match {
          case ByKeys(keys, keyCols) =>
            // the change's own delete, applied at its commit seq — which
            // every base file predates
            keyedMatches(live, touched, keys.select(keyCols.map(col) :+
              lit(rec.key.version + 1).as("_eq_seq"): _*), keyCols)
          case ByPredicate(cond, _) => live.filter(coalesce(cond, lit(false)))
        }
        // an UPDATE's matched rows feed two jobs (positions → vectors,
        // values → landed copies): scan the touched files once
        if (sets.isDefined) matched.persist()
        try {
          val dvDir = s"${dvRoot(root)}/${java.util.UUID.randomUUID()}"
          val left = files.filterNot(f => dropped(f.path))
          val after = withVectors(spark, dvDir, left,
            matched.select(col("_p"), col("_i")))
          if (after == left) kept // nothing matched — nothing lands either
          else {
            val next = withStates(m, after)
            if (sets.isEmpty) next
            else withLanded(next, landFiles(physSelect(
              assigned(matched, lit(true)), schema), root, stats))
          }
        } finally if (sets.isDefined) matched.unpersist(): Unit
    }
  }

  /** The `files` a batch of keys can touch ([[touchedPaths]]). */
  private def keyedFiles(spark: SparkSession, m: DataFrame,
                         files: Seq[Entry], keys: DataFrame,
                         keyCols: Seq[String],
                         schema: StructType): Seq[Entry] = {
    val touched = touchedPaths(spark, m, keys, keyCols, schema).toSet
    files.filter(f => touched.contains(f.path))
  }

  /** `(dropped, touched)` of `files` for a predicate, by proof over
    * `m`'s envelopes: provably unmatching files are in neither
    * ([[graft.plans.StatsPruneRule.excludedByEnvelopes]]); with
    * `dropWhole`, provably ALL-matching ones are `dropped`
    * ([[graft.plans.StatsPruneRule.wholeFileMatched]] — raw envelopes
    * bound the live rows, so it holds under vectors). */
  private def predicateFiles(spark: SparkSession, m: DataFrame,
                             files: Seq[Entry], cond: Column,
                             schema: StructType, dropWhole: Boolean)
      : (Set[String], Seq[Entry]) = {
    val stats = statsOf(m)
    val resolved = toPhysicalExpr(resolveCond(spark, cond, schema), schema)
    val excluded = graft.plans.StatsPruneRule.excludedByEnvelopes(
      spark, resolved, m, stats)
    val dropped =
      if (!dropWhole) Set.empty[String]
      else graft.plans.StatsPruneRule.wholeFileMatched(resolved, m, stats) --
        excluded
    (dropped, files.filterNot(f => excluded(f.path) || dropped(f.path)))
  }

  /** The keyed match: every row of `live` (read with positions from
    * `files`) whose key equals a row of `keys` carrying a LARGER
    * `_eq_seq` than the row's file — a delete at seq s kills only rows
    * of files added before it. NULL keys match nothing (SQL
    * equality). */
  private def keyedMatches(live: DataFrame, files: Seq[Entry],
                           keys: DataFrame,
                           keyCols: Seq[String]): DataFrame = {
    val spk = live.sparkSession
    import spk.implicits._
    val fileSeq = files.map(f => (f.path, f.seq)).toDF("_p", "_fseq")
    // key side renamed — the live side carries the same logical names
    val ek = keys.select(keyCols.toIndexedSeq
      .map(c => col(c).as(s"_ek_$c")) :+ col("_eq_seq"): _*)
    live.join(broadcast(fileSeq), Seq("_p"))
      .join(ek, keyCols.map(c => col(c) === col(s"_ek_$c")).reduce(_ && _) &&
        col("_eq_seq") > col("_fseq"), "left_semi")
      .drop("_fseq")
  }

  /** LIVE rows of the files a batch of keys can touch — the keyed
    * ops' own selection, for callers (the SQL MERGE compiler) that
    * JOIN against current target values first. Reads the latest
    * version outside any commit loop; the keyed commit that follows
    * serializes via CAS. */
  private[graft] def readTouchedRows(spark: SparkSession, root: String,
                                     keys: DataFrame,
                                     keyCols: Seq[String]): DataFrame = {
    val base = latestVersion(spark, root)
    require(base >= 0, s"manifest table at $root does not exist")
    val rec = recordAt(spark, root, base)
    // the EFFECTIVE view — pending equality deletes applied, so a
    // matched target row a prior mergeEq already replaced never joins
    val (m, files) = effectiveManifest(spark, root, rec)
    val schema = metaOf(rec).schema
    val touched = keyedFiles(spark, m, files, keys, keyCols, schema)
    readFilesDv(spark, schema, touched.map(_.file), touched.map(_.dvRows).sum)
  }

  /** Upsert by key — SQL `MERGE … WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT`: `updates`' keys retire, `updates` lands. Duplicate
    * keys within `updates` are the caller's to resolve (both would
    * land). */
  private def upsert(updates: DataFrame, keyCols: Seq[String],
                     evolve: Boolean = false,
                     batchId: Option[Long] = None): ChangeSet =
    ChangeSet(Some(ByKeys(updates, keyCols)), Batch(updates), evolve, batchId)

  /** Fold one CDC batch (key columns + a monotone per-key `seqCol` + an
    * `opCol` + the row payload) as one commit: per key the highest
    * `seqCol` wins, every winner's key retires, and each winner whose
    * op is not 'D' lands — `I`, `U` and NULL upsert. Folding batches in
    * sequence order equals one fold of their union; `(key, seqCol)`
    * must be unique within a batch. */
  private def foldCdc(changes: DataFrame, root: String,
                      keyCols: Seq[String], seqCol: String, opCol: String,
                      grain: Grain): Long = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    // read by the touched-file search, the retirement and the landing:
    // never recompute the window over the source between them
    val winners = changes
      .withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1).drop("_graft_rn")
      .persist()
    try rowDelta(changes.sparkSession, root, ChangeSet(
        Some(ByKeys(winners, keyCols)),
        Batch(winners.filter(!(col(opCol) <=> lit("D"))).drop(opCol, seqCol))),
      grain).get
    finally winners.unpersist(): Unit
  }

  // The public row-level ops: one change set each, committed by
  // [[rowDelta]] at the grain the name picks. Each returns the committed
  // version.

  /** [[upsert]], copy-on-write. */
  def merge(updates: DataFrame, root: String, keyCols: Seq[String]): Long =
    merge(updates, root, keyCols, evolveSchema = false)

  /** [[upsert]], copy-on-write, with optional additive schema evolution
    * ([[ChangeSet]] `evolve`; untouched files carry by reference under
    * the wider schema). Strict by default: a silently widened schema is
    * a bug surfacing as an error. */
  def merge(updates: DataFrame, root: String, keyCols: Seq[String],
            evolveSchema: Boolean): Long =
    rowDelta(updates.sparkSession, root, upsert(updates, keyCols,
      evolveSchema), CopyOnWrite).get

  /** [[foldCdc]], copy-on-write. */
  def applyCdc(changes: DataFrame, root: String, keyCols: Seq[String],
               seqCol: String = "seq", opCol: String = "op"): Long =
    foldCdc(changes, root, keyCols, seqCol, opCol, CopyOnWrite)

  /** SQL DELETE, copy-on-write: provably all-matching files drop by
    * reference ([[predicateFiles]]), boundary files are rewritten. */
  def deleteWhere(spark: SparkSession, root: String, cond: Column): Long =
    rowDelta(spark, root, ChangeSet(Some(ByPredicate(cond, dropWhole = true)),
      NoRows), CopyOnWrite).get

  /** SQL UPDATE, copy-on-write: rows where `cond` is true take `sets`. */
  def updateWhere(spark: SparkSession, root: String, cond: Column,
                  sets: Seq[(String, Column)]): Long = {
    require(sets.nonEmpty, "updateWhere requires at least one assignment")
    rowDelta(spark, root, ChangeSet(Some(ByPredicate(cond, dropWhole = false)),
      Assign(sets)), CopyOnWrite).get
  }

  /** Atomic predicate-region swap — Delta's `replaceWhere`: one commit
    * deletes every row matching `cond` and lands `df`, whose rows must
    * all satisfy `cond` (checked before anything lands). A predicate
    * aligned with the file layout reads nothing of the old region. */
  def replaceWhere(df: DataFrame, root: String, cond: Column): Long =
    rowDelta(df.sparkSession, root, ChangeSet(
      Some(ByPredicate(cond, dropWhole = true)), Batch(df)), CopyOnWrite).get

  /** [[upsert]] at the deletion-vector grain. */
  def mergeMor(updates: DataFrame, root: String, keyCols: Seq[String]): Long =
    mergeMor(updates, root, keyCols, evolveSchema = false)

  /** [[upsert]] at the deletion-vector grain with [[merge]]'s
    * `evolveSchema`: even matched files keep their bytes. */
  def mergeMor(updates: DataFrame, root: String, keyCols: Seq[String],
               evolveSchema: Boolean): Long =
    rowDelta(updates.sparkSession, root, upsert(updates, keyCols,
      evolveSchema), Vectors).get

  /** Stream-idempotent [[mergeMor]]: the micro-batch id commits with the
    * version and a replayed id is a no-op (None) — the keyed streaming
    * sink is exactly-once, with no phantom change-feed versions. */
  def mergeMorBatch(updates: DataFrame, root: String, keyCols: Seq[String],
                    batchId: Long): Option[Long] =
    rowDelta(updates.sparkSession, root,
      upsert(updates, keyCols, batchId = Some(batchId)), Vectors)

  /** [[foldCdc]] at the deletion-vector grain. */
  def applyCdcMor(changes: DataFrame, root: String, keyCols: Seq[String],
                  seqCol: String = "seq", opCol: String = "op"): Long =
    foldCdc(changes, root, keyCols, seqCol, opCol, Vectors)

  /** [[deleteWhere]] at the deletion-vector grain. A file whose vector
    * covers every row drops; [[optimizeIncremental]] purges the vectors
    * of half-dead files, [[optimize]] all. */
  def deleteWhereMor(spark: SparkSession, root: String, cond: Column): Long =
    rowDelta(spark, root, ChangeSet(Some(ByPredicate(cond, dropWhole = true)),
      NoRows), Vectors).get

  /** [[updateWhere]] at the deletion-vector grain: the matched LIVE
    * rows' copies land, so an update never resurrects a deleted row. */
  def updateWhereMor(spark: SparkSession, root: String, cond: Column,
                     sets: Seq[(String, Column)]): Long = {
    require(sets.nonEmpty, "updateWhereMor requires at least one assignment")
    rowDelta(spark, root, ChangeSet(Some(ByPredicate(cond, dropWhole = false)),
      Assign(sets)), Vectors).get
  }

  /** [[upsert]] at the equality-delete grain — Iceberg v2's streaming
    * upsert, zero target reads. Duplicate keys within the batch BOTH
    * survive (same-seq rows are exempt from the batch's own delete). */
  def mergeEq(updates: DataFrame, root: String, keyCols: Seq[String]): Long =
    rowDelta(updates.sparkSession, root, upsert(updates, keyCols),
      EqDeletes).get

  /** Stream-idempotent [[mergeEq]] ([[mergeMorBatch]]'s contract). */
  def mergeEqBatch(updates: DataFrame, root: String, keyCols: Seq[String],
                   batchId: Long): Option[Long] =
    rowDelta(updates.sparkSession, root,
      upsert(updates, keyCols, batchId = Some(batchId)), EqDeletes)

  /** [[foldCdc]] at the equality-delete grain: an upsert's replacement
    * lands at its delete's own seq, exempt from it. */
  def applyCdcEq(changes: DataFrame, root: String, keyCols: Seq[String],
                 seqCol: String = "seq", opCol: String = "op"): Long =
    foldCdc(changes, root, keyCols, seqCol, opCol, EqDeletes)

  /** Delete by key at the equality-delete grain — the `WHEN MATCHED
    * THEN DELETE`-only MERGE, cost O(keys). */
  def deleteByKeyEq(keys: DataFrame, root: String,
                    keyCols: Seq[String]): Long =
    rowDelta(keys.sparkSession, root, ChangeSet(Some(ByKeys(keys, keyCols)),
      NoRows), EqDeletes).get

  /** ADDITIVE schema evolution as a standalone commit — `ALTER TABLE
    * ADD COLUMN` for the manifest format: the next version reuses the
    * CURRENT manifest verbatim (every data file carries BY REFERENCE,
    * zero data I/O) and commits a WIDER schema; schema-on-read
    * serves the new columns as NULL for every existing row. New
    * columns must be nullable for exactly that reason. Returns the
    * committed version. */
  def addColumns(spark: SparkSession, root: String,
                 fields: Seq[org.apache.spark.sql.types.StructField]): Long =
    alterColumns(spark, root, adds = fields, drops = Nil)

  /** Additive ADD + DROP evolution as ONE commit — the atomic form a
    * multi-change `ALTER TABLE` needs (per-change commits would leave
    * the table half-altered when a later change fails): every check
    * runs against the attempt's base before anything commits. See
    * [[addColumns]]/[[dropColumns]] for each side's contract. */
  def alterColumns(spark: SparkSession, root: String,
                   adds: Seq[org.apache.spark.sql.types.StructField],
                   drops: Seq[String]): Long = {
    require(adds.nonEmpty || drops.nonEmpty,
      "alterColumns requires at least one change")
    adds.foreach(f => require(f.nullable,
      s"new column ${f.name} must be nullable — existing rows read NULL"))
    require(adds.map(_.name).distinct.length == adds.length,
      s"duplicate new column names: ${adds.map(_.name).mkString(", ")} — " +
        "a schema with repeated fields would poison every later read")
    require(adds.map(_.name).toSet.intersect(drops.toSet).isEmpty,
      "a column cannot be both added and dropped in one change set")
    commitLoop(spark, root) { (rec, meta) =>
      val schema = meta.schema
      adds.foreach(f => require(!schema.fieldNames.contains(f.name),
        s"column ${f.name} already exists"))
      drops.foreach(n => require(schema.fieldNames.contains(n),
        s"column $n does not exist"))
      require(schema.fields.length + adds.length > drops.distinct.length,
        "cannot drop every column of the table")
      drops.foreach(n => require(!schema.fields.exists(f =>
        f.name == n && f.metadata.contains(BucketKey)),
        s"column $n is the table's bucket key — the frozen hash layout " +
          "and its storage-partitioned joins ride on it; rebucket() " +
          "(CALL optimize_table with buckets) to change the layout " +
          "first"))
      drops.foreach(n =>
        require(!meta.eq.exists(_.keys.contains(n)),
          s"column $n keys pending equality deletes — run compactEq() " +
            "(or any row-level op / maintenance tick) before dropping it"))
      drops.foreach(n => meta.constraints.foreach {
        case (cn, e) => require(!constraintRefs(spark, e).contains(n),
          s"column $n is referenced by constraint $cn ($e) — drop the " +
            "constraint before dropping the column") })
      if (bucketSpec(schema).isDefined)
        adds.foreach(f => require(f.name != "gb",
          "bucketed tables reserve the column name 'gb' for the bucket " +
            "directory layout"))
      val adds2: Seq[org.apache.spark.sql.types.StructField] =
        if (adds.isEmpty) Nil
        else {
          // RESURRECTION GUARD, mapping edition: schema-on-read maps
          // by PHYSICAL name, so re-adding a name some LIVE file
          // still physically carries (dropped by [[dropColumns]],
          // which rewrites nothing), or that another field's mapping
          // still claims (it was renamed away), must NOT reuse that
          // physical name — the stale values would resurrect. One
          // distributed footer sweep over the manifest's own listing
          // (executor-side footer reads — no data I/O; a CAS retry
          // re-sweeps because its base's file set may differ) detects
          // the conflict, and the new column simply maps to a FRESH
          // physical name: old files' stale bytes stay invisible, no
          // optimize() required, nothing refused.
          val liveNames = physicalColumns(spark, filesAt(spark, rec))
          val taken = schema.fields.map(physicalName).toSet
          adds.map { f =>
            if (!liveNames.contains(f.name) && !taken.contains(f.name)) f
            else f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(PhysicalKey, f.name + "_gf" +
                  java.util.UUID.randomUUID().toString.take(8))
                .build())
          }
        }
      val next = StructType(
        schema.fields.filterNot(f => drops.contains(f.name)) ++ adds2)
      val m = manifest(spark, rec)
      // stat triplets and bloom bits are keyed by the dropped fields'
      // PHYSICAL names
      val statDrop = drops.flatMap { c =>
        val pc = physicalFor(schema, c)
        Seq(s"${pc}_min", s"${pc}_max", s"${pc}_nulls", bloomCol(pc))
      }.filter(m.columns.contains)
      Some((m.drop(statDrop: _*), meta.copy(schema = next)))
    }.get
  }

  /** The physical column NAMES any of `files` carries — executor-side
    * parquet footer reads over the manifest's own listing (cost ∝
    * |files| footer reads, distributed; no stat-per-file planning, no
    * data I/O) — the [[addColumns]] resurrection guard's evidence. */
  private def physicalColumns(spark: SparkSession,
                              files: Seq[String]): Set[String] = {
    if (files.isEmpty) return Set.empty
    val conf = new graft.util.SerConf(spark.sparkContext.hadoopConfiguration)
    val spk = spark
    import spk.implicits._
    spark.createDataset(files).repartition(math.min(files.size, 32))
      .mapPartitions { it =>
        val out = scala.collection.mutable.Set.empty[String]
        // emit every physical path the file carries: top-level names
        // plus dotted nested paths ("s.a") — the nested re-add guard
        // needs the full tree, not just the roots
        def walk(prefix: String, t: org.apache.parquet.schema.Type): Unit = {
          val path = if (prefix.isEmpty) t.getName
            else s"$prefix.${t.getName}"
          out += path
          if (!t.isPrimitive)
            t.asGroupType().getFields.forEach(c => walk(path, c))
        }
        it.foreach { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), conf.value)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getFileMetaData.getSchema.getFields
            .forEach(f => walk("", f))
          finally r.close()
        }
        out.iterator
      }.distinct().collect().toSet
  }

  /** `ALTER TABLE DROP COLUMN` — the inverse evolution, equally
    * metadata-only: the next version reuses the current manifest's
    * FILES verbatim under a NARROWER schema (schema-on-read by name
    * simply stops projecting the column — zero data I/O), and the
    * dropped columns' stat triplets and bloom bits leave the manifest
    * rows so no future landing, proof, or maintenance references a
    * column the schema lost. Re-ADDING a dropped name while
    * live files still carry it maps the new column to a FRESH
    * physical name — see [[alterColumns]]'s resurrection guard. */
  def dropColumns(spark: SparkSession, root: String,
                  names: Seq[String]): Long =
    alterColumns(spark, root, adds = Nil, drops = names)

  /** `ALTER TABLE RENAME COLUMN` — METADATA-ONLY via the name
    * mapping: the next version commits the SAME manifest under a
    * schema whose field carries the new logical name and (frozen in
    * field metadata) its original PHYSICAL name, which is what data
    * files, manifest stat columns, and bloom bits keep using.
    * Zero data I/O, stats and indexes stay valid, time travel reads
    * pre-rename versions under their own schemas' old names. A
    * rename BACK to the physical name drops the mapping entry. */
  def renameColumn(spark: SparkSession, root: String,
                   from: String, to: String): Long = {
    require(from != to, "rename requires two different names")
    commitLoop(spark, root) { (rec, meta) =>
      val schema = meta.schema
      require(schema.fieldNames.contains(from),
        s"column $from does not exist")
      // pending equality deletes name their key columns LOGICALLY (in
      // the registry and inside the delete files themselves) — a
      // rename would orphan them and break every later read
      require(!meta.eq.exists(_.keys.contains(from)),
        s"column $from keys pending equality deletes — run compactEq() " +
          "(or any row-level op / maintenance tick) before renaming it")
      // constraint expressions are stored as SQL text over LOGICAL
      // names — a rename would silently break them at the next landing
      meta.constraints.foreach { case (n, e) =>
        require(!constraintRefs(spark, e).contains(from),
          s"column $from is referenced by constraint $n ($e) — drop " +
            "the constraint (and re-add it under the new name) first") }
      require(!schema.fieldNames.contains(to),
        s"column $to already exists")
      val next = StructType(schema.fields.map { f =>
        if (f.name != from) f
        else {
          val phys = physicalName(f)
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          val md =
            if (phys == to) mb.remove(PhysicalKey).build()
            else mb.putString(PhysicalKey, phys).build()
          f.copy(name = to, metadata = md)
        }
      })
      Some((manifest(spark, rec), meta.copy(schema = next)))
    }.get
  }

  /** Navigate `parent` (logical names, structs at every step) and
    * apply `edit` to the struct type there — the shared schema
    * surgery of the NESTED evolution commits. An empty path edits the
    * top level; a path through an array/map refuses (element types do
    * not evolve member-wise). */
  private def mapStructAt(schema: StructType, parent: Seq[String],
                          what: String)
                         (edit: StructType => StructType): StructType = {
    def go(dt: org.apache.spark.sql.types.DataType,
           rest: Seq[String]): org.apache.spark.sql.types.DataType =
      (dt, rest) match {
        case (st: StructType, Seq()) => edit(st)
        case (st: StructType, h +: t) =>
          require(st.fieldNames.contains(h),
            s"$what: no field $h under ${parent.mkString(".")}")
          StructType(st.fields.map(f =>
            if (f.name != h) f else f.copy(dataType = go(f.dataType, t))))
        case (other, _) => throw new IllegalArgumentException(
          s"$what: path crosses a non-struct (${other.simpleString}) — " +
            "array/map element types do not evolve member-wise")
      }
    go(schema, parent).asInstanceOf[StructType]
  }

  /** The PHYSICAL dotted path of a logical field path — what parquet
    * footers carry ([[physicalColumns]]) and the nested re-add guard
    * compares against. */
  private def physicalPath(schema: StructType, path: Seq[String]): String = {
    var dt: org.apache.spark.sql.types.DataType = schema
    path.map { n =>
      val st = dt.asInstanceOf[StructType]
      val f = st.fields.find(_.name == n).getOrElse(
        sys.error(s"no field $n in ${st.simpleString}"))
      dt = f.dataType
      physicalName(f)
    }.mkString(".")
  }

  /** RENAME a NESTED struct field — metadata-only, exactly the
    * top-level [[renameColumn]] machinery one level down: the
    * member's physical name freezes in ITS OWN field metadata, data
    * files never rewrite, prior versions read under their own
    * schemas. `path` is the full logical path (e.g. Seq("s", "a")).
    * A struct that keys pending equality deletes refuses (the delete
    * files carry its values under the old member names — struct
    * equality would stop resolving). */
  def renameColumnPath(spark: SparkSession, root: String,
                       path: Seq[String], to: String): Long = {
    require(path.nonEmpty, "rename requires a column path")
    if (path.length == 1) return renameColumn(spark, root, path.head, to)
    require(path.last != to, "rename requires two different names")
    commitLoop(spark, root) { (rec, meta) =>
      val schema = meta.schema
      require(!meta.eq.exists(_.keys.contains(path.head)),
        s"column ${path.head} keys pending equality deletes — run " +
          "compactEq() (or any row-level op / maintenance tick) before " +
          "renaming inside it")
      // constraints are SQL text over logical names; a constraint
      // touching ANY part of this top-level column blocks renames
      // inside it (conservative: refs track the head, the only name
      // the registry can see without a full analysis)
      meta.constraints.foreach { case (n, e) =>
        require(!constraintRefs(spark, e).contains(path.head),
          s"column ${path.head} is referenced by constraint $n ($e) — " +
            "drop the constraint (and re-add it under the new name) " +
            "before renaming inside it") }
      val next = mapStructAt(schema, path.init, "RENAME COLUMN") { st =>
        require(st.fieldNames.contains(path.last),
          s"field ${path.mkString(".")} does not exist")
        require(!st.fieldNames.contains(to),
          s"field $to already exists in ${path.init.mkString(".")}")
        StructType(st.fields.map { f =>
          if (f.name != path.last) f
          else {
            val phys = physicalName(f)
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            val md =
              if (phys == to) mb.remove(PhysicalKey).build()
              else mb.putString(PhysicalKey, phys).build()
            f.copy(name = to, metadata = md)
          }
        })
      }
      Some((manifest(spark, rec), meta.copy(schema = next)))
    }.get
  }

  /** ADD/DROP members of a NESTED struct column as ONE metadata-only
    * commit — [[alterColumns]] one level down. Added members must be
    * nullable (pre-evolution rows read NULL through the missing-field
    * path); dropped members stop projecting (bytes stay in old files,
    * invisible by name). Re-adding a member name that live files
    * still physically carry — or that a sibling's mapping claims —
    * maps the new member to a FRESH physical name, so stale bytes
    * never resurrect: the same footer-sweep guard as top level,
    * comparing DOTTED physical paths. */
  def alterNestedColumns(spark: SparkSession, root: String,
                         parent: Seq[String],
                         adds: Seq[org.apache.spark.sql.types.StructField],
                         drops: Seq[String]): Long = {
    require(parent.nonEmpty,
      "top-level changes go through alterColumns")
    require(adds.nonEmpty || drops.nonEmpty,
      "alterNestedColumns requires at least one change")
    adds.foreach(f => require(f.nullable,
      s"new field ${f.name} must be nullable — existing rows read NULL"))
    require(adds.map(_.name).distinct.length == adds.length,
      s"duplicate new field names: ${adds.map(_.name).mkString(", ")}")
    require(adds.map(_.name).toSet.intersect(drops.toSet).isEmpty,
      "a field cannot be both added and dropped in one change set")
    commitLoop(spark, root) { (rec, meta) =>
      val schema = meta.schema
      require(!meta.eq.exists(_.keys.contains(parent.head)),
        s"column ${parent.head} keys pending equality deletes — run " +
          "compactEq() (or any row-level op / maintenance tick) before " +
          "altering inside it")
      // a constraint referencing this top-level column blocks nested
      // drops under it (a dropped member would brick every later
      // landing's validation with an analysis error, not a refusal)
      if (drops.nonEmpty)
        meta.constraints.foreach { case (n, e) =>
          require(!constraintRefs(spark, e).contains(parent.head),
            s"column ${parent.head} is referenced by constraint $n " +
              s"($e) — drop the constraint before altering inside it") }
      val physParent = physicalPath(schema, parent)
      val liveNames =
        if (adds.isEmpty) Set.empty[String]
        else physicalColumns(spark, filesAt(spark, rec))
      val next = mapStructAt(schema, parent, "ALTER COLUMN") { st =>
        drops.foreach(n => require(st.fieldNames.contains(n),
          s"field ${parent.mkString(".")}.$n does not exist"))
        adds.foreach(f => require(!st.fieldNames.contains(f.name),
          s"field ${parent.mkString(".")}.${f.name} already exists"))
        require(st.fields.length + adds.length > drops.distinct.length,
          "cannot drop every field of a struct — drop the column instead")
        val taken = st.fields.map(physicalName).toSet
        val adds2 = adds.map { f =>
          if (!liveNames.contains(s"$physParent.${f.name}") &&
              !taken.contains(f.name)) f
          else f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(PhysicalKey, f.name + "_gf" +
                java.util.UUID.randomUUID().toString.take(8))
              .build())
        }
        StructType(st.fields.filterNot(f => drops.contains(f.name)) ++
          adds2)
      }
      Some((manifest(spark, rec), meta.copy(schema = next)))
    }.get
  }

  /** Lossless primitive WIDENINGS the vectorized parquet reader
    * serves per file (its updater factory upcasts int32→long,
    * float→double, … at read) — the set `widenColumnType` accepts. */
  private[graft] def widenable(from: org.apache.spark.sql.types.DataType,
                               to: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case _ => false
    }
  }

  /** The widen guards shared by [[widenColumnType]]'s commit loop and
    * the catalog's whole-set pre-validation — validated against ONE
    * schema snapshot so a refused later widen in a multi-change ALTER
    * never strands an earlier one half-applied. */
  private def validateWiden(schema: StructType,
                            eqKeys: Set[String], name: String,
                            to: org.apache.spark.sql.types.DataType)
      : Unit = {
    require(schema.fieldNames.contains(name),
      s"column $name does not exist")
    val f = schema(name)
    require(widenable(f.dataType, to),
      s"ALTER COLUMN TYPE supports lossless primitive widening only " +
        s"(got ${f.dataType.simpleString} -> ${to.simpleString}) — " +
        "other changes need per-file rewrites")
    require(!f.metadata.contains(BucketKey),
      s"bucket key $name cannot change type — the frozen layout's " +
        "hash is type-sensitive; rebucket() (CALL optimize_table " +
        "with buckets) off the key first, then widen")
    require(!eqKeys.contains(name),
      s"column $name keys pending equality deletes — run compactEq() " +
        "(or any row-level op / maintenance tick) before widening")
  }

  /** The nested analog of [[validateWiden]]: validates a dotted-path
    * widen AND returns the widened schema — the catalog's pre-check
    * and [[widenColumnTypePath]]'s commit body run EXACTLY this, so
    * the guards can never drift apart. */
  private def validateNestedWiden(schema: StructType,
      eqKeys: Set[String], path: Seq[String],
      to: org.apache.spark.sql.types.DataType): StructType = {
    require(!eqKeys.contains(path.head),
      s"column ${path.head} keys pending equality deletes — run " +
        "compactEq() (or any row-level op / maintenance tick) before " +
        "widening inside it")
    mapStructAt(schema, path.init, "ALTER COLUMN TYPE") { st =>
      require(st.fieldNames.contains(path.last),
        s"field ${path.mkString(".")} does not exist")
      StructType(st.fields.map { f =>
        if (f.name != path.last) f
        else {
          require(widenable(f.dataType, to),
            s"ALTER COLUMN TYPE supports lossless primitive widening " +
              s"only (got ${f.dataType.simpleString} -> " +
              s"${to.simpleString})")
          f.copy(dataType = to)
        }
      })
    }
  }

  /** Validate a WHOLE widen set (dotted paths included) against the
    * current schema without committing anything (the catalog's
    * multi-change ALTER seam). */
  private[graft] def validateWidens(spark: SparkSession, root: String,
      widens: Seq[(Seq[String], org.apache.spark.sql.types.DataType)])
      : Unit = {
    val base = latestVersion(spark, root)
    val meta = metaAt(spark, root, base)
    val (schema, eqKeys) = (meta.schema, meta.eq.flatMap(_.keys).toSet)
    widens.foreach {
      case (Seq(n), t) => validateWiden(schema, eqKeys, n, t)
      case (path, t) =>
        validateNestedWiden(schema, eqKeys, path, t): Unit
    }
  }

  /** ALTER COLUMN TYPE — WIDENING only, metadata-only (the Delta
    * type-widening shape): the next version reuses the current
    * manifest's files verbatim under the WIDER schema type; old
    * files keep their narrow parquet pages and the vectorized reader
    * upcasts per file, new landings conform to the wide type, and the
    * manifest's stat triplets for the column cast in the same commit
    * so envelope proofs keep firing. Guarded seams: a BUCKET key
    * refuses (the layout's hash is type-sensitive — hash(5: int)
    * ≠ hash(5L)); a column keying PENDING equality deletes refuses
    * (the key files carry narrow-typed tuples — compact first); and
    * the column's bloom bits drop in the same commit (xxhash64 of a
    * wide probe value never matches narrow-hashed bits, so stale bits
    * would FALSELY exclude files; the next [[buildBloom]] re-indexes
    * under the wide type). Narrowing and non-primitive changes
    * refuse — they would need per-file rewrites. Top-level only. */
  def widenColumnType(spark: SparkSession, root: String, name: String,
                      to: org.apache.spark.sql.types.DataType): Long =
    commitLoop(spark, root) { (rec, meta) =>
      val schema = meta.schema
      validateWiden(schema, meta.eq.flatMap(_.keys).toSet, name, to)
      val phys = physicalFor(schema, name)
      val m = manifest(spark, rec).drop(bloomCol(phys))
      val m2 =
        if (!m.columns.contains(s"${phys}_min")) m
        else m.withColumn(s"${phys}_min", col(s"${phys}_min").cast(to))
          .withColumn(s"${phys}_max", col(s"${phys}_max").cast(to))
      Some((m2, meta.copy(schema = StructType(schema.fields.map(x =>
        if (x.name != name) x else x.copy(dataType = to))))))
    }.get

  /** [[widenColumnType]] for a NESTED struct member (dotted path) —
    * strictly simpler than top level: stat triplets and bucket keys
    * are top-level concerns, so a nested widen is schema surgery (the
    * vectorized reader upcasts the narrow leaf pages per file exactly
    * as at top level) plus dropping any bloom bits on the enclosing
    * column, whose hashed type it changes. A struct keying pending
    * equality deletes refuses like every nested evolution. */
  def widenColumnTypePath(spark: SparkSession, root: String,
                          path: Seq[String],
                          to: org.apache.spark.sql.types.DataType)
      : Long = {
    require(path.nonEmpty, "widen requires a column path")
    if (path.length == 1)
      return widenColumnType(spark, root, path.head, to)
    commitLoop(spark, root) { (rec, meta) =>
      val next = validateNestedWiden(meta.schema,
        meta.eq.flatMap(_.keys).toSet, path, to)
      Some((manifest(spark, rec)
        .drop(bloomCol(physicalFor(meta.schema, path.head))),
        meta.copy(schema = next)))
    }.get
  }

  // ------------------------------------------------- deletion vectors

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Load one DV sidecar: a `java.util.BitSet.toByteArray` image —
    * bit k set ⇔ row index k of the sidecar's data file is deleted.
    * Size ∝ file row count / 8 (≤ ~12 MB for a 100M-row file), loaded
    * where it is consumed (an executor task), never on the driver. */
  private[graft] def readDvBits(conf: org.apache.hadoop.conf.Configuration,
                                dvPath: String): java.util.BitSet = {
    val p = new Path(dvPath)
    val in = p.getFileSystem(conf).open(p)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
    finally in.close()
    java.util.BitSet.valueOf(bytes)
  }

  /** Expand (data file → DV sidecar) pairs into deleted
    * (`_p` file, `_i` position) rows — on EXECUTORS: each task reads its
    * sidecars and walks the set bits; the driver never loads a bitset. */
  private def dvRowsDf(spark: SparkSession,
                       pairs: Seq[(String, String)]): DataFrame = {
    val conf = new graft.util.SerConf(
      spark.sparkContext.hadoopConfiguration)
    val spk = spark
    import spk.implicits._
    spark.createDataset(pairs)
      .repartition(math.min(pairs.size, 32))
      .flatMap { case (p, dvp) =>
        val bits = readDvBits(conf.value, dvp)
        new Iterator[(String, Long)] {
          private var i = bits.nextSetBit(0)
          override def hasNext: Boolean = i >= 0
          override def next(): (String, Long) = {
            val out = (p, i.toLong); i = bits.nextSetBit(i + 1); out
          }
        }
      }.toDF("_p", "_i")
  }

  /** Read a file subset WITH its deletion vectors applied — the one
    * reader every INTERNAL consumer of file contents rides (the
    * row-level core, change-feed diffs, incremental optimize;
    * user-facing reads apply vectors inside the DSv2 scan, see
    * [[graft.sources.v2.GraftTable]]). `files` are (path, size,
    * vector), planned by [[scanFiles]] with no listing — a path list
    * handed to `spark.read.parquet` starts a listing job past 32
    * paths. Clean files read verbatim; vectored files read with their
    * row positions and anti-join the expanded deleted rows, cost ∝
    * subset + deleted rows in it (`totalDvRows`, from the manifest,
    * picks the join strategy). `positions` keeps each
    * row's (file, position) as `_p`/`_i` — for consumers that vector
    * the rows they select. */
  private[graft] def readFilesDv(spark: SparkSession, schema: StructType,
                                 files: Seq[(String, Long, Option[String])],
                                 totalDvRows: Long,
                                 positions: Boolean = false): DataFrame = {
    // files carry PHYSICAL column names; readers hand back logical
    // (nested mappings rename back through a positional struct cast)
    val toLogical = schema.fields.toIndexedSeq.map { f =>
      val c = col(physicalName(f))
      (if (typeHasMapping(f.dataType)) c.cast(relaxedType(f.dataType))
       else c).as(f.name)
    }
    val pos = Seq(canonPathCol(col("_metadata.file_path")).as("_p"),
      col("_metadata.row_index").as("_i"))
    def scan(fs: Seq[(String, Long, Option[String])], withPos: Boolean) =
      scanFiles(spark, toPhysical(schema), fs.map(f => (f._1, f._2)))
        .select(toLogical ++ (if (withPos) pos else Nil): _*)
    val (clean, dvd) = files.partition(_._3.isEmpty)
    val cleanDf = if (clean.isEmpty) None else Some(scan(clean, positions))
    val dvDf =
      if (dvd.isEmpty) None
      else {
        val pairs = dvd.map(f => (f._1, f._3.get))
        // BROADCAST the deleted rows only while their serialized size
        // (each repeats its path + a long) stays under 64 MB — a row
        // count alone would broadcast hundreds of MB of paths on a mass
        // delete; anything larger shuffles
        val maxPath = pairs.map(_._1.length).max
        val dels = dvRowsDf(spark, pairs)
        val live = scan(dvd, withPos = true).join(
          if (totalDvRows * (maxPath + 16L) <= (64L << 20)) broadcast(dels)
          else dels.hint("shuffle_hash"), Seq("_p", "_i"), "left_anti")
        Some(if (positions) live else live.drop("_p", "_i"))
      }
    (cleanDf.toSeq ++ dvDf.toSeq).reduceOption(_ unionByName _).getOrElse {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      if (!positions) empty
      else empty.withColumn("_p", lit(null).cast("string"))
        .withColumn("_i", lit(null).cast("long"))
    }
  }

  /** Parquet files given as (path, size), read under `schema` made
    * all-nullable (as `spark.read.schema` does: a declared NOT NULL
    * must not let the optimizer fold away a check on the bytes) — the
    * scan plans from the list through a [[graft.sources.v2
    * .GraftManifestFileIndex]]: no listing, no stat, whatever the
    * count. */
  private def scanFiles(spark: SparkSession, schema: StructType,
                        files: Seq[(String, Long)]): DataFrame = {
    val readSchema = VersionedTable.allNullable(schema)
    spark.baseRelationToDataFrame(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        new graft.sources.v2.GraftManifestFileIndex(spark, "", files, 0L,
          readSchema, None),
        StructType(Nil), readSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat, Map.empty)(spark))
  }

  /** One data file of a manifest version as the row-level core reads
    * it: size, added-at `seq`, deletion vector, row counts. */
  private final case class Entry(path: String, size: Long, seq: Long,
                                 dv: Option[String], dvRows: Long,
                                 rows: Long) {
    def state: (String, Option[String], Long, Long) = (path, dv, dvRows, rows)
    def file: (String, Long, Option[String]) = (path, size, dv)
  }

  /** The entries of one manifest version, sorted by path — one
    * metadata-scale read of the epoch's cached collection. */
  private def entries(spark: SparkSession,
                      rec: VersionedTable.Commit): Seq[Entry] = {
    val (schema, rows) = manifestCollected(spark, rec)
    val Seq(ip, is, iq, id, iv, ir) = Seq("path", "size", "seq", "dv_path",
      "dv_rows", "row_count").map(schema.fieldIndex)
    rows.map(r => Entry(r.getString(ip), r.getLong(is), r.getLong(iq),
      Option(r.getString(id)), r.getLong(iv), r.getLong(ir))).sortBy(_.path)
  }

  /** The deletion-vector bitset writer behind [[withVectors]]: one
    * writer task per hash bucket of files builds each file's bitset
    * from its (file, position) rows — existing vectors OR-ed in via
    * `oldDv` — and writes an
    * ATTEMPT-UNIQUE sidecar under `dvDir` (a killed speculative twin
    * can never tear the file the winning attempt's returned row
    * names). The collect is metadata-scale: (file, sidecar, total
    * deleted bits) per touched file. */
  private def writeVectors(spark: SparkSession, dvDir: String,
                           oldDv: Map[String, String],
                           positions: DataFrame): Seq[(String, String, Long)] = {
    val conf = new graft.util.SerConf(
      spark.sparkContext.hadoopConfiguration)
    val spk = spark
    import spk.implicits._
    positions.repartition(col("_p")).as[(String, Long)]
      .mapPartitions { it =>
        val byFile = new scala.collection.mutable.HashMap[
          String, java.util.BitSet]()
        it.foreach { case (p, i) =>
          // bitset positions are Int — a >2^31-row parquet file (far
          // past any sane file size) must fail loudly, never wrap
          // into a WRONG bit
          require(i <= Int.MaxValue.toLong,
            s"row index $i of $p exceeds the deletion-vector range — " +
              "split the file (OPTIMIZE) before merge-on-read deletes")
          byFile.getOrElseUpdate(p, new java.util.BitSet())
            .set(i.toInt)
        }
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        byFile.iterator.map { case (p, bits) =>
          oldDv.get(p).foreach(old =>
            bits.or(readDvBits(conf.value, old)))
          val out = s"$dvDir/${md5hex(p)}-$attempt.dv"
          val outPath = new Path(out)
          val os = outPath.getFileSystem(conf.value)
            .create(outPath, true)
          try os.write(bits.toByteArray) finally os.close()
          (p, out, bits.cardinality().toLong)
        }
      }.collect().toSeq
  }

  /** Retire `positions` (`_p`, `_i`) of `files` — the vector encoding
    * shared by the row-level core and the equality-delete resolution:
    * [[writeVectors]] writes each named file's merged vector under
    * `dvDir`, and the result is `files` with their new states (a file
    * whose vector covers every row drops). Equal to `files` when no
    * position matched. */
  private def withVectors(spark: SparkSession, dvDir: String,
                          files: Seq[Entry],
                          positions: DataFrame): Seq[Entry] = {
    val written = writeVectors(spark, dvDir,
      files.flatMap(f => f.dv.map(f.path -> _)).toMap, positions)
      .map(w => w._1 -> w).toMap
    files.flatMap { f =>
      written.get(f.path) match {
        case None                         => Some(f)
        case Some((_, _, n)) if n >= f.rows => None // fully dead
        case Some((_, dv, n))             => Some(f.copy(dv = Some(dv), dvRows = n))
      }
    }
  }

  /** `m` restricted to `files`, each entry carrying its file's vector
    * state — the manifest of a view whose vectors changed (files absent
    * from `files` leave). */
  private def withStates(m: DataFrame, files: Seq[Entry]): DataFrame = {
    val spk = m.sparkSession
    import spk.implicits._
    val st = files.map(f => (f.path, f.dv.orNull, f.dvRows))
      .toDF("path", "_e_dv", "_e_rows")
    m.join(broadcast(st), Seq("path"), "inner")
      .withColumn("dv_path", col("_e_dv"))
      .withColumn("dv_rows", col("_e_rows"))
      .select(m.columns.toIndexedSeq.map(col): _*)
  }

  // ------------------------------------- equality-delete resolution
  //
  // Pending equality deletes resolve into ORDINARY deletion vectors
  // over the envelope/bloom-touched files — the keyed match a vector
  // commit runs at write time ([[keyedMatches]]), deferred to the
  // first read — written once into attempt-unique scratch under `_dv`
  // and cached per epoch, so every vector-aware reader serves them.

  /** Resolved equality deletes per manifest epoch. Entries are
    * immutable per epoch; scratch sidecars are TTL-swept by
    * [[vacuum]] when no manifest adopted them, so a hit re-validates
    * its sidecars before being trusted. */
  private val EqResolutions =
    new EpochCache.Kind[Seq[(String, Option[String], Long, Long)]](s =>
      64L + 256L * s.length)

  /** Whether `version` has pending (unmaterialized) equality deletes
    * — consumers that answer from MANIFEST STATISTICS alone (metadata
    * aggregates) must route to the scan while true. */
  private[graft] def hasPendingEq(spark: SparkSession, root: String,
                                  version: Long): Boolean =
    metaAt(spark, root, version).eq.nonEmpty

  /** Per-file effective DV state of one version: path → (dv sidecar,
    * deleted rows, file rows) with any pending equality deletes
    * RESOLVED in (fully-dead files dropped). Without pending deletes
    * this is exactly the manifest's own states. */
  private[graft] def effectiveStates(spark: SparkSession, root: String,
                                     version: Long)
      : Seq[(String, Option[String], Long, Long)] =
    effectiveStates(spark, root, recordAt(spark, root, version))

  private def effectiveStates(spark: SparkSession, root: String,
                              rec: VersionedTable.Commit)
      : Seq[(String, Option[String], Long, Long)] = {
    val pending = metaOf(rec).eq
    if (pending.isEmpty) return entries(spark, rec).map(_.state)
    // re-validate EVERY scratch sidecar: committed vectors are
    // refcount-durable, but unadopted eqres scratch is what the
    // vacuum TTL sweeps out from under a long-lived cache entry —
    // and it sweeps file by file, so checking only one sidecar would
    // let a partially swept resolution serve dangling paths (the
    // read then fails until the JVM restarts). Scratch sidecars are
    // few — one per eq-touched file — so each gets its own exists();
    // any miss evicts and recomputes instead of failing the read.
    EpochCache.get(EqResolutions, rec.key).filter { hit =>
      val scratch = hit.collect {
        case (_, Some(dv), _, _) if dv.contains("/eqres-") => dv }
      scratch.forall(dv => fs(spark, root).exists(new Path(dv)))
    }.getOrElse {
      val resolved = resolveEq(spark, root, rec, pending)
      EpochCache.put(EqResolutions, rec.key, resolved) // replaces a stale hit
      resolved
    }
  }

  /** One pending equality delete compiled for PURE-READ application:
    * its commit seq, logical key columns, the normalized key tuples
    * (see [[graft.sources.v2.GraftEqProbe.normalize]]), and the
    * envelope/bloom-touched file subset — only those files pay the
    * per-task probe; everything else reads the untouched clean
    * path. */
  private[graft] final case class EqProbe(seq: Long, keyCols: Seq[String],
                                          keys: Set[Seq[Any]],
                                          touched: Set[String])

  /** Probe plans per manifest epoch — entries are a few key sets
    * plus touched-path sets, all metadata-scale; key files are
    * immutable and registry-refcounted (vacuum keeps referenced
    * ones), so entries never go stale. Each entry carries the
    * key-file BYTES it holds in memory, re-checked against the conf
    * on every hit — neither raising nor lowering
    * `spark.graft.eq.maxProbeBytes` is pinned by the cache. */
  private val EqProbePlans = new EpochCache.Kind[(Long, Seq[EqProbe])](
    _._2.map(p => 64L + 32L * p.keys.size * p.keyCols.length +
      128L * p.touched.size).sum)

  /** Compile `version`'s pending equality deletes into per-task probe
    * plans — the PURE-READ application path: a SELECT on an
    * eq-pending table applies the delete keys above the columnar scan
    * (broadcast with the task closure) and WRITES NOTHING, the
    * Iceberg v2 reader shape. Returns Some(Nil) when nothing is
    * pending, and None when this version must fall back to scratch
    * materialization ([[effectiveStates]]): a key type the probe
    * cannot represent, or key files past the in-memory guard
    * (`spark.graft.eq.maxProbeBytes`, default 64 MiB — a delete that
    * large is not "one micro-batch's keys" and belongs to
    * [[compactEq]]). */
  private[graft] def eqProbes(spark: SparkSession, root: String,
                              version: Long): Option[Seq[EqProbe]] = {
    val rec = recordAt(spark, root, version)
    val meta = metaOf(rec)
    val entries = meta.eq
    if (entries.isEmpty) return Some(Nil)
    val maxBytes = spark.conf
      .get("spark.graft.eq.maxProbeBytes", (64L << 20).toString).toLong
    EpochCache.get(EqProbePlans, rec.key) match {
      case Some((bytes, plan)) if bytes <= maxBytes => return Some(plan)
      case Some(_) =>
        // a LOWERED guard evicts an oversized cached plan (and its
        // heap-held key tuples) instead of pinning the old decision
        EpochCache.remove(EqProbePlans, rec.key)
        return None
      case None =>
    }
    val schema = meta.schema
    val f = fs(spark, root)
    // lazy: an unsupported key type short-circuits WITHOUT the
    // per-entry FS walk (its None is deliberately never cached, so a
    // permanently-scratch-path table must not re-pay it every SELECT);
    // the guard forces it on every path that can cache a plan
    lazy val keyBytes = entries.map(e =>
      f.getContentSummary(new Path(e.path)).getLength).sum
    val computed: Option[Seq[EqProbe]] = {
      val supported = entries.forall(_.keys.forall(k =>
        graft.sources.v2.GraftEqProbe.supported(schema(k).dataType)))
      if (!supported || keyBytes > maxBytes) None
      else {
        val m = manifest(spark, rec)
        // touched subsets per key-column group (entries of one
        // streaming ingest share keys — one proof serves them all);
        // per-file applicability then narrows by seq in the planner
        val touchedByGroup: Map[Seq[String], Set[String]] =
          entries.groupBy(_.keys).map { case (keyCols, es) =>
            val keysDf = spark.read.parquet(es.map(_.path): _*)
              .select(keyCols.map(col): _*).distinct()
            keyCols -> touchedPaths(spark, m, keysDf, keyCols,
              schema).toSet
          }
        Some(entries.map { e =>
          val types = e.keys.map(k => schema(k).dataType)
          val rows = spark.read.parquet(e.path)
            .select(e.keys.map(col): _*)
            .queryExecution.executedPlan.executeCollect()
          val tuples: Set[Seq[Any]] = rows.iterator.flatMap { r =>
            val arr = new Array[Any](types.length)
            var i = 0
            var hasNull = false
            while (i < types.length && !hasNull) {
              if (r.isNullAt(i)) hasNull = true
              else arr(i) = graft.sources.v2.GraftEqProbe
                .normalize(r.get(i, types(i)))
              i += 1
            }
            // a NULL key component matches nothing (SQL equality) —
            // the tuple can never kill a row, so it never enters
            if (hasNull) None
            else Some(scala.collection.immutable.ArraySeq
              .unsafeWrapArray(arr): Seq[Any])
          }.toSet
          EqProbe(e.seq, e.keys, tuples, touchedByGroup(e.keys))
        })
      }
    }
    // only POSITIVE plans cache: the fall-back-to-materialization
    // decision depends on the mutable maxProbeBytes conf, and a
    // cached None would pin this version to the scratch path for the
    // JVM's life even after the conf is raised (the None computation
    // is a registry read + per-entry FS length — cheap to redo)
    computed.foreach(plan => EpochCache.put(EqProbePlans, rec.key, (keyBytes, plan)))
    computed
  }

  /** The DSv2 scan's PURE-READ listing of one version: every manifest
    * file with its size, vector sidecar, per-file `seq`, and row
    * counts — raw states, no resolution, NOTHING written. The scan
    * applies pending equality deletes per task from [[eqProbes]]. */
  private[graft] def rawFiles(spark: SparkSession, root: String,
                              version: Long)
      : Seq[(String, Long, Option[String], Long, Long, Long)] = {
    val (schema, rows) = manifestCollected(spark, root, version)
    val Seq(ip, is, id, iq, ir, iv) = Seq("path", "size", "dv_path",
      "seq", "row_count", "dv_rows").map(schema.fieldIndex)
    rows.map(r => (r.getString(ip), r.getLong(is),
      Option(r.getString(id)), r.getLong(iq), r.getLong(ir),
      r.getLong(iv)))
  }

  /** [[effectiveStates]] with each file's size — the DSv2 scan's
    * listing shape. */
  private[graft] def effectiveFiles(spark: SparkSession, root: String,
                                    version: Long)
      : Seq[(String, Long, Option[String], Long)] = {
    val rec = recordAt(spark, root, version)
    val size = entries(spark, rec).map(e => e.path -> e.size).toMap
    effectiveStates(spark, root, rec).map(s => (s._1, size(s._1), s._2, s._3))
  }

  /** The EFFECTIVE manifest of one version — pending equality deletes
    * materialized as deletion vectors on its rows (dead files
    * dropped) — with its entries. Row-level ops START FROM THIS VIEW:
    * their commit then carries the materialized vectors under an EMPTY
    * registry, folding the compaction into their own CAS commit. */
  private def effectiveManifest(spark: SparkSession, root: String,
                                rec: VersionedTable.Commit)
      : (DataFrame, Seq[Entry]) = {
    val m = manifest(spark, rec)
    val files = entries(spark, rec)
    if (metaOf(rec).eq.isEmpty) return (m, files)
    val states = effectiveStates(spark, root, rec).map(s => s._1 -> s).toMap
    val live = files.flatMap(f => states.get(f.path).map(s =>
      f.copy(dv = s._2, dvRows = s._3)))
    (withStates(m, live), live)
  }

  /** The resolution job itself — cost ∝ the envelope/bloom-TOUCHED
    * subset of files OLDER than the deletes, never the table: per key
    * set, the pending delete files union (each key row tagged with its
    * delete's seq), candidate files (file seq < some delete's seq)
    * narrow through the shared [[touchedPaths]] proofs, and the keyed
    * match ([[keyedMatches]]) over them feeds [[withVectors]]. */
  private def resolveEq(spark: SparkSession, root: String,
                        rec: VersionedTable.Commit, pending: Seq[EqEntry])
      : Seq[(String, Option[String], Long, Long)] = {
    val files = entries(spark, rec)
    val maxSeq = pending.map(_.seq).max
    val cand = files.filter(_.seq < maxSeq)
    val positions =
      if (cand.isEmpty) Nil
      else {
        val spk = spark
        import spk.implicits._
        val schema = metaOf(rec).schema
        val mCand = manifest(spark, rec)
          .join(broadcast(cand.map(_.path).toDF("path")), Seq("path"), "left_semi")
        pending.groupBy(_.keys).toSeq.flatMap { case (keyCols, es) =>
          val keysDf = es.map(e => spark.read.parquet(e.path)
              .select(keyCols.map(col) :+ lit(e.seq).as("_eq_seq"): _*))
            .reduce(_ unionByName _)
          val touched = keyedFiles(spark, mCand, cand, keysDf, keyCols, schema)
          // raw reads (a re-matched dead row re-sets a set bit); the
          // delete keys broadcast, where a write-time batch may not
          if (touched.isEmpty) None
          else Some(keyedMatches(readFilesDv(spark, schema,
            touched.map(f => (f.path, f.size, None)), 0L, positions = true),
            touched, broadcast(keysDf), keyCols).select(col("_p"), col("_i")))
        }
      }
    if (positions.isEmpty) files.map(_.state)
    else withVectors(spark, s"${dvRoot(root)}/eqres-${java.util.UUID.randomUUID()}",
      files, positions.reduce(_ unionByName _)).map(_.state)
  }

  /** Materialize every pending equality delete as deletion vectors in
    * ONE commit — the maintenance-tick compaction: the next manifest
    * is the EFFECTIVE view ([[effectiveManifest]]) under an empty
    * registry, so reads stop paying resolution and the delete key
    * files become vacuumable. None when nothing is pending. Content
    * is identical by construction (the same resolution serves reads).
    * Cost ∝ the touched subset — one read-side resolution adopted
    * into a metadata commit. */
  def compactEq(spark: SparkSession, root: String): Option[Long] = {
    val v = latestVersion(spark, root)
    require(v >= 0, s"manifest table at $root has no committed version")
    if (!hasPendingEq(spark, root, v)) return None
    commitLoop(spark, root) { (rec, meta) =>
      if (meta.eq.isEmpty) None
      else Some((effectiveManifest(spark, root, rec)._1, meta.copy(eq = Nil)))
    }
  }

  /** Resolve a user predicate against the table schema (plan-only) so
    * the envelope-proof engine sees typed attributes. */
  private def resolveCond(spark: SparkSession, cond: Column,
                          schema: StructType)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .filter(cond).queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
      case other => sys.error(s"unexpected analyzed shape: $other")
    }

  /** RESTORE to a retained version — `RESTORE TABLE t TO VERSION AS OF
    * v` as a METADATA-ONLY commit: the next version's manifest is the
    * target version's manifest VERBATIM (every data file carries BY
    * REFERENCE, zero data I/O) under the target version's
    * Meta, so the restore is itself a normal, time-travelable,
    * CAS-serialized commit — history is never rewritten, and the
    * restored files are re-referenced by a RETAINED manifest, which is
    * exactly what keeps the refcount-aware [[vacuum]] off them. Cost:
    * one manifest read + one manifest write. The equality-delete
    * registry restored is the TARGET version's: restoring to a
    * pre-delete version undoes the delete; restoring to a version
    * with pending deletes restores them pending. */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    commitLoop(spark, root) { (rec, _) =>
      require(versions(spark, root).contains(version),
        s"manifest table at $root has no retained version $version " +
          "(vacuumed or never committed) — nothing to restore to")
      require(version != rec.key.version,
        s"version $version is already current")
      Some((manifest(spark, root, version), metaAt(spark, root, version)))
    }.get
  }

  private object RestoreAborted extends Exception
    with scala.util.control.NoStackTrace

  /** [[restore]] that commits ONLY while `expectedCurrent` is still
    * the latest version — the compensation shape (RTAS abort): the
    * check runs INSIDE the CAS loop against each attempt's fresh
    * base, so a concurrent commit landing at any point makes this a
    * no-op (None) instead of silently burying that writer's version
    * under the compensating commit. */
  private[graft] def restoreIfCurrent(spark: SparkSession, root: String,
                                      version: Long,
                                      expectedCurrent: Long)
      : Option[Long] =
    try commitLoop(spark, root) { (rec, _) =>
      if (rec.key.version != expectedCurrent) throw RestoreAborted
      require(versions(spark, root).contains(version),
        s"manifest table at $root has no retained version $version")
      Some((manifest(spark, root, version), metaAt(spark, root, version)))
    }
    catch { case RestoreAborted => None }

  /** SHALLOW CLONE — a new manifest table at `dstRoot` whose first
    * version references the SOURCE's data files by absolute path: zero
    * data copied, cost ∝ one manifest (the Delta `CREATE TABLE ...
    * SHALLOW CLONE` ergonomics — a 100 TB dev/test copy in a metadata
    * write). The clone is immediately independent for WRITES: appends
    * land under `dstRoot/data`, row-level ops rewrite borrowed files
    * INTO the clone, and the clone's [[vacuum]] only ever sweeps
    * `dstRoot/data` — it can never delete the source's files.
    *
    * The one shared-fate hazard is the source's OWN retention (the
    * documented shallow-clone contract): vacuuming the SOURCE can
    * delete files the clone still references, because the source's
    * refcount only sees its own manifests. Clone for short-lived
    * branches, or [[optimize]] the clone to materialize it. */
  def cloneTo(spark: SparkSession, srcRoot: String, dstRoot: String,
              version: Option[Long] = None): Long = {
    require(exists(spark, srcRoot), s"no manifest table at $srcRoot")
    require(!exists(spark, dstRoot),
      s"manifest table at $dstRoot already exists")
    val v = version.getOrElse(latestVersion(spark, srcRoot))
    require(versions(spark, srcRoot).contains(v),
      s"manifest table at $srcRoot has no retained version $v")
    // a clone must not depend on the source's UNCOMMITTED resolution
    // scratch (pending equality deletes resolve into TTL-swept
    // sidecars no source manifest references — the clone would dangle
    // within a day, a sharper hazard than the documented shared-fate
    // retention one); compaction is content-identical and cheap
    require(!hasPendingEq(spark, srcRoot, v),
      s"version $v of $srcRoot has pending equality deletes — run " +
        "compactEq() (or any row-level op / maintenance tick) on the " +
        "source before cloning")
    // the clone starts its own seq timeline: borrowed files reset to
    // seq 0 so the clone's future deletes order against ITS versions
    val cloneRows = manifest(spark, srcRoot, v).withColumn("seq", lit(0L))
    // the clone inherits the source's invariants (its future writes
    // enforce the same contract the source's did) and its ANALYZE
    // stats (the clone's content IS the source's)
    val src = metaAt(spark, srcRoot, v)
    val (dv, key) = VersionedTable.writeKeyed(cloneRows,
      manifestsRoot(dstRoot), encodeMeta(Meta(src.schema,
        constraints = src.constraints, ndv = src.ndv)))
    primeManifestCaches(spark, dstRoot, dv, cloneRows, key)
    dv
  }

  /** ADOPT a plain parquet directory: make the manifest table at
    * `root` mirror `dataDir`'s files BY REFERENCE — the Iceberg
    * `add_files` / Delta `CONVERT TO DELTA` shape, and the one per-file
    * metadata plane for plain directories ([[graft.plans.GraftTables
    * .register]] names the result). Entries point at the directory's
    * files the way [[cloneTo]]'s point at the source's, so no data
    * moves, and [[vacuum]] — which sweeps only `root/data` — never
    * touches them.
    *
    * One call lists `dataDir`, describes ONLY the files the current
    * version lacks (footer stats over `statsCols`, the landing's own
    * row assembly — cost ∝ new files), drops entries whose files are
    * gone, and commits once through the manifest commit loop — or not
    * at all when the listing matches (returns None). The first call
    * creates the table with the schema of the directory's first file;
    * `statsCols` are fixed from then on, like [[create]]'s.
    *
    * An adopted root has exactly ONE writer: this method. Appends and
    * row-level ops (merge, delete, update, CDC, optimize) refuse —
    * the next adopt would otherwise undo them. Files are identified
    * by path: rewrite a file under a new name, never in place. */
  def adopt(spark: SparkSession, dataDir: String, root: String,
            statsCols: Seq[String]): Option[Long] = {
    val listed = graft.sources.FileManifest.listFiles(spark, dataDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val dir = canon(dataDir)
    def describe(files: Seq[(String, Long)], schema: StructType) =
      describeFiles(spark, files, schema, statsCols, bucketed = false,
        () => scanFiles(spark, schema, files))
    if (!exists(spark, root)) {
      require(listed.nonEmpty, s"adopt: $dataDir holds no parquet files")
      val schema = spark.read.parquet(listed.head._1).schema
      statsCols.foreach(c => require(schema.fieldNames.contains(c),
        s"stats column $c is not a column of $dataDir"))
      val rows = describe(listed, schema)
      val (v, key) = VersionedTable.writeKeyed(rows, manifestsRoot(root),
        encodeMeta(Meta(schema, adopted = Some(dir))))
      primeManifestCaches(spark, root, v, rows, key)
      return Some(v)
    }
    commitLoop(spark, root, adopting = true) { (rec, meta) =>
      val tracked = ManifestTable.statsCols(spark, rec)
      require(tracked.toSet == statsCols.toSet,
        s"adopt: $root tracks ${tracked.mkString(",")}, not " +
          statsCols.mkString(","))
      require(meta.adopted.contains(dir),
        s"adopt: $root is not an adoption of $dataDir")
      val known = filesAt(spark, rec).toSet
      val fresh = listed.filterNot(f => known.contains(f._1))
      val gone = known -- listed.map(_._1)
      if (fresh.isEmpty && gone.isEmpty) None
      else Some((withLanded(manifest(spark, rec)
        .filter(!col("path").isin(gone.toSeq: _*)),
        describe(fresh, meta.schema)), meta))
    }
  }

  // ------------------------------------------------- refs: branches & tags

  private val RefsSub = "_refs"
  private val BranchesSub = "_branches"

  private def refsRoot(root: String): String = s"$root/$RefsSub"

  /** Root of branch `name`'s own manifest table. Underscore-prefixed
    * so no flat listing ever surfaces branch data as the main
    * table's; manifest reads address files explicitly (only leaf
    * BASENAMES are hidden-filtered) and are unaffected. */
  def branchRoot(root: String, name: String): String =
    s"$root/$BranchesSub/$name"

  /** A named ref over the table's history — the Iceberg refs model
    * re-expressed on the linear epoch log: a [[TagRef]] pins one MAIN
    * version immutably (vacuum retains it until the ref drops); a
    * [[BranchRef]] is a writable fork — a full manifest table at
    * [[branchRoot]], shallow-cloned at creation (zero data copied), so
    * the ENTIRE op surface (append/MERGE/DELETE/SQL through the
    * catalog's `db.t.<branch>` identifier) works on it — recording the
    * main version it forked from, the fast-forward base
    * [[publishBranch]] checks. This is write-audit-publish: write to
    * the branch, audit the branch, publish atomically. */
  sealed trait Ref
  final case class TagRef(version: Long) extends Ref
  final case class BranchRef(base: Long) extends Ref

  /** Ref names must be identifiers that can NEVER parse as a version
    * number — `versionAsOf` dispatches on exactly that distinction. */
  private def requireRefName(name: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_-]*"),
      s"ref name '$name' must match [A-Za-z_][A-Za-z0-9_-]* — names " +
        "share the VERSION AS OF surface with numeric versions")

  private def refFile(root: String, name: String): Path =
    new Path(refsRoot(root), name)

  /** Read one ref, None when absent. */
  def readRef(spark: SparkSession, root: String, name: String): Option[Ref] = {
    val f = fs(spark, root)
    val p = refFile(root, name)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val line =
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").trim
        finally in.close()
      line.split(' ') match {
        case Array("tag", v)    => Some(TagRef(v.toLong))
        case Array("branch", b) => Some(BranchRef(b.toLong))
        case _ => sys.error(s"unreadable ref $name on $root: '$line'")
      }
    }
  }

  /** All refs, name-sorted. */
  def listRefs(spark: SparkSession, root: String): Seq[(String, Ref)] = {
    val f = fs(spark, root)
    val base = new Path(refsRoot(root))
    if (!f.exists(base)) Nil
    else f.listStatus(base).filter(_.isFile).map(_.getPath.getName)
      .sorted.toSeq
      .flatMap(n => readRef(spark, root, n).map(n -> _))
  }

  /** Claim the ref NAME atomically: `create(overwrite = false)` is the
    * CAS — a second creator of the same name loses with
    * FileAlreadyExists instead of silently stealing the ref. */
  private def writeRefExclusive(spark: SparkSession, root: String,
                                name: String, line: String): Unit = {
    val f = fs(spark, root)
    f.mkdirs(new Path(refsRoot(root))): Unit
    val out = f.create(refFile(root, name), false)
    try out.write(line.getBytes("UTF-8")) finally out.close()
  }

  /** Move an EXISTING ref (publish advancing a branch's base) — tmp +
    * atomic overwrite rename, the pointer-bump pattern. */
  private def rewriteRef(spark: SparkSession, root: String,
                         name: String, line: String): Unit = {
    val f = fs(spark, root)
    val tmp = new Path(refsRoot(root),
      s".${name}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(line.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      refFile(root, name).toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, refFile(root, name),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** TAG `version` (default: the head) as `name` — immutable, metadata
    * only (one tiny file). [[vacuum]] retains tagged versions past the
    * `keep` horizon, so a tag is a durable audit/repro pin:
    * `VERSION AS OF 'name'` reads it forever until [[dropRef]]. */
  def createTag(spark: SparkSession, root: String, name: String,
                version: Option[Long] = None): Long = {
    requireRefName(name)
    val v = version.getOrElse(latestVersion(spark, root))
    require(versions(spark, root).contains(v),
      s"manifest table at $root has no retained version $v")
    writeRefExclusive(spark, root, name, s"tag $v")
    v
  }

  /** BRANCH the table at `version` (default: the head) as `name`: the
    * ref file claims the name FIRST (so a concurrent [[vacuum]] never
    * sweeps the clone mid-creation), then a shallow clone materializes
    * the branch's own manifest table — zero data copied, cost one
    * manifest write. Returns the fork base (the main version the
    * branch diverges from, which [[publishBranch]] fast-forwards). */
  def createBranch(spark: SparkSession, root: String, name: String,
                   version: Option[Long] = None): Long = {
    requireRefName(name)
    val v = version.getOrElse(latestVersion(spark, root))
    require(versions(spark, root).contains(v),
      s"manifest table at $root has no retained version $v")
    writeRefExclusive(spark, root, name, s"branch $v")
    try cloneTo(spark, root, branchRoot(root, name), Some(v))
    catch { case e: Throwable =>
      fs(spark, root).delete(refFile(root, name), false): Unit
      throw e }
    v
  }

  /** PUBLISH branch `name` onto main — the write-audit-publish commit:
    * ONE CAS that adopts the branch's current manifest, schema,
    * and constraint registry as main's next version, REFUSED unless
    * main still sits at the branch's fork base (fast-forward only — a
    * moved main means the audit validated a state that no longer
    * composes; re-branch from the new head and re-apply). Data files
    * adopt BY REFERENCE (absolute paths into the branch dir — zero
    * copies at any scale); `seq` resets to 0 exactly as [[cloneTo]]'s
    * borrow does, sound because publish requires the branch's
    * equality-delete registry empty (compactEq first), so no pending
    * delete orders against file seqs. On success the ref's base
    * advances to the published version: continued branch work can
    * publish again as long as main only moves through this branch. */
  def publishBranch(spark: SparkSession, root: String,
                    name: String, merge: Boolean = false): Long = {
    val base0 = readRef(spark, root, name) match {
      case Some(BranchRef(b)) => b
      case Some(TagRef(_)) =>
        sys.error(s"ref $name on $root is a tag — tags are immutable " +
          "pins, only branches publish")
      case None => sys.error(s"no ref $name on $root")
    }
    val bRoot = branchRoot(root, name)
    require(exists(spark, bRoot),
      s"branch $name of $root has no manifest table — creation failed " +
        "midway; dropRef and re-create")
    val bv = latestVersion(spark, bRoot)
    require(!hasPendingEq(spark, bRoot, bv),
      s"branch $name has pending equality deletes — run compactEq() " +
        "(or any row-level op / maintenance tick) on the branch " +
        "before publishing")
    // three-way merge support: when main moved since the fork and
    // `merge = true`, a METADATA merge lands both lines in one commit
    // — sound at file granularity because every logical row lives in
    // exactly one file at the fork, so any row-level change on either
    // side touches that file's manifest state and overlapping-row
    // edits surface as both-sides-touched files (refused, both
    // commits named); disjoint appends/deletes/DV changes compose by
    // reference, zero data copied.
    // set iff the commit actually went through the three-way path —
    // ONLY then must the branch rebase onto the merged result (a
    // fast-forward already leaves main == branch content; syncing
    // after every FF would add a pointless branch commit per publish)
    @volatile var mergedCommit = false
    def threeWay(rec: VersionedTable.Commit, metaM: Meta)
        : (DataFrame, StructType) = {
      val base = rec.key.version
      mergedCommit = true
      require(merge,
        s"main moved from $base0 to $base since branch $name forked — " +
          "non-fast-forward publish refused: re-create the branch " +
          "from the current head and re-apply its changes, or " +
          "publish with merge = true to three-way merge disjoint " +
          "file changes")
      require(metaM.eq.isEmpty,
        s"main at $root has pending equality deletes — run " +
          "compactEq() (or any row-level op / maintenance tick) on " +
          "main before a merge publish")
      // schema: at most ONE side may have evolved since the fork
      val s0 = tableSchema(spark, root, base0)
      val sB = tableSchema(spark, bRoot, bv)
      val sM = metaM.schema
      val mergedSchema =
        if (sB == s0) sM
        else if (sM == s0 || sB == sM) sB
        else sys.error(
          s"both main (v$base0 -> v$base) and branch $name (at " +
            s"v$bv) evolved the schema since the fork — align one " +
            "side before a merge publish")
      // both sides' entries take one column set: a column one side
      // lacks (bloom bits it never built) reads NULL there, and bits
      // of a column whose type differs between the sides drop — they
      // hash the other side's type
      val (mM, mB) = (manifest(spark, rec), manifest(spark, bRoot, bv))
      val stale = sM.fields.filter(f => sB.fields.exists(g =>
        physicalName(g) == physicalName(f) && g.dataType != f.dataType))
        .map(f => bloomCol(physicalName(f))).toSet
      val entryCols = (mM.columns ++ mB.columns).distinct
        .filterNot(stale.contains).toIndexedSeq
      def aligned(m: DataFrame, other: DataFrame) =
        m.select(entryCols.map(c =>
          if (m.columns.contains(c)) col(c)
          else lit(null).cast(other.schema(c).dataType).as(c)): _*)
      // per-path state: presence + (size, dv sidecar) — any row-level
      // change to a file changes exactly this
      def sideify(m: DataFrame, st: String, rw: String) =
        m.select(col("path"),
          struct(col("size"), col("dv_path")).as(st),
          struct(m.columns.toIndexedSeq.map(col): _*).as(rw))
      val j = sideify(aligned(mM, mB), "sm", "rm")
        .join(sideify(aligned(mB, mM), "sb", "rb"),
          Seq("path"), "full_outer")
        .join(manifest(spark, root, base0).select(col("path"),
          struct(col("size"), col("dv_path")).as("s0")),
          Seq("path"), "full_outer")
      val branchTouched = !(col("sb") <=> col("s0"))
      val mainTouched = !(col("sm") <=> col("s0"))
      // CRASH REPLAY first: a merge publish that committed on main
      // but crashed before the branch sync / ref rewrite leaves main
      // ALREADY reflecting every branch change (the commit is atomic
      // — all of the branch's state landed or none did). Re-running
      // then recommits main's own state idempotently. This check must
      // precede conflict detection: a replay's both-removed paths are
      // indistinguishable per-path from two INDEPENDENT rewrites of
      // the same file (which would duplicate the file's surviving
      // rows through both replacements — the hazard refused below).
      val unabsorbed = j
        .filter(branchTouched && !(col("sb") <=> col("sm")))
        .limit(1).count() > 0
      if (!unabsorbed)
        (mM.withColumn("seq", lit(0L)),
          mergedSchema)
      else {
        // any path BOTH sides touched is a conflict — equal present
        // states cannot arise outside a replay (fresh file paths
        // carry UUIDs), and both-removed means two divergent rewrites
        val conflicts = j
          .filter(branchTouched && mainTouched)
          .select(col("path")).limit(5).collect().map(_.getString(0))
        require(conflicts.isEmpty,
          s"merge publish of branch $name refused: main (v$base0 -> " +
            s"v$base) and the branch (forked at v$base0, now v$bv) " +
            "both changed file(s) " + conflicts.mkString(", ") +
            " — overlapping row changes cannot compose at metadata " +
            s"granularity; re-create the branch from v$base and " +
            "re-apply its changes")
        val merged = j.select(
          when(branchTouched, col("rb")).otherwise(col("rm")).as("r"))
          .filter(col("r").isNotNull).select(col("r.*"))
          .withColumn("seq", lit(0L))
        (merged, mergedSchema)
      }
    }
    def pick[T](what: String, c0: T, cB: T, cM: T, base: Long): T =
      if (cB == c0) cM
      else if (cM == c0 || cB == cM) cB
      else sys.error(
        s"both main (v$base0 -> v$base) and branch $name changed " +
          s"the $what registry since the fork — align one side " +
          "before a merge publish")
    val published = commitLoop(spark, root) { (rec, metaM) =>
      val base = rec.key.version
      val metaB = metaAt(spark, bRoot, bv)
      if (base == base0)
        Some((manifest(spark, bRoot, bv).withColumn("seq", lit(0L)),
          metaB.copy(eq = Nil)))
      else {
        val meta0 = metaAt(spark, root, base0)
        val (rows, schema) = threeWay(rec, metaM)
        Some((rows, Meta(schema,
          constraints = pick("constraint", meta0.constraints,
            metaB.constraints, metaM.constraints, base),
          // advisory statistics: prefer whichever side re-analyzed,
          // main winning when both did — never a refusal
          ndv = if (metaM.ndv == meta0.ndv) metaB.ndv else metaM.ndv)))
      }
    }.get
    // after a MERGE publish the branch must REBASE onto the merged
    // result before its ref advances: leaving the branch manifest at
    // its pre-merge state while the ref says "forked at published"
    // would let the NEXT (fast-forward) publish adopt the branch
    // wholesale and silently drop main's merged-in files. A crash
    // between the main commit and this sync re-runs as an idempotent
    // re-merge (every branch-touched path then reads identical on
    // both sides — no conflict, same merged content).
    if (mergedCommit && latestVersion(spark, root) == published &&
        readRef(spark, root, name).contains(BranchRef(base0))) {
      val pm = manifest(spark, root, published)
      val pMeta = metaAt(spark, root, published).copy(eq = Nil)
      commitLoop(spark, bRoot)((_, _) => Some((pm, pMeta))): Unit
    }
    rewriteRef(spark, root, name, s"branch $published")
    published
  }

  /** Drop ref `name`. A tag drop releases its version to the normal
    * retention horizon. A branch drop deletes the branch's directory
    * EXCEPT files main's retained manifests still reference (published
    * files adopted by reference live under the branch dir until main's
    * own history stops naming them — [[vacuum]] re-sweeps orphaned
    * branch remnants once it does). */
  def dropRef(spark: SparkSession, root: String, name: String): Unit = {
    val ref = readRef(spark, root, name).getOrElse(
      sys.error(s"no ref $name on $root"))
    ref match {
      case TagRef(_)    => ()
      case BranchRef(_) =>
        sweepBranchDir(spark, root, branchRoot(root, name), ttlMs = 0L)
    }
    fs(spark, root).delete(refFile(root, name), false): Unit
  }

  /** Delete a branch directory bottom-up, keeping ONLY files main's
    * retained manifests reference (data files and deletion-vector
    * sidecars a publish adopted). `ttlMs` guards the vacuum-time
    * orphan sweep against a creator racing between ref write and
    * clone commit; an explicit [[dropRef]] passes 0. */
  private def sweepBranchDir(spark: SparkSession, root: String,
                             bDir: String, ttlMs: Long): Unit = {
    val f = fs(spark, root)
    val p = new Path(bDir)
    if (!f.exists(p)) return
    val prefix = canon(bDir) + "/"
    val live: Set[String] = versions(spark, root).flatMap { v =>
      val m = manifest(spark, root, v)
      m.select(col("path")).collect().map(r => canon(r.getString(0))) ++
        m.select(col("dv_path")).filter(col("dv_path").isNotNull)
          .collect().map(r => canon(r.getString(0)))
    }.filter(_.startsWith(prefix)).toSet
    val now = System.currentTimeMillis()
    def walk(dir: Path): Boolean = { // true = dir fully reclaimed
      var kept = false
      f.listStatus(dir).foreach { s =>
        if (s.isDirectory) { if (!walk(s.getPath)) kept = true }
        else if (live.contains(canon(s.getPath.toString)) ||
                 now - s.getModificationTime < ttlMs) kept = true
        else f.delete(s.getPath, false): Unit
      }
      if (!kept) f.delete(dir, true): Unit
      !kept
    }
    walk(p): Unit
  }

  /** File-set delta between two versions — (removed, added) data-file
    * paths, from COMMITTED METADATA alone (two manifest reads, zero
    * data I/O). Files present in both manifests are immutable and
    * carried BY REFERENCE, so their rows are bit-identical at both
    * versions. */
  private[graft] def changedFileSets(spark: SparkSession, root: String,
                                     fromVersion: Long, toVersion: Long)
      : (Seq[String], Seq[String]) = {
    val (r, a) = changedFileStates(spark, root, fromVersion, toVersion)
    (r.map(_._1), a.map(_._1))
  }

  /** [[changedFileSets]] at the DV grain: a file's IDENTITY for the
    * delta is (path, deletion-vector), because a file carried by path
    * with a CHANGED vector has different effective rows on the two
    * sides — it must enter both scan subsets (from-side read with the
    * old vector, to-side with the new) so the key diff surfaces the
    * newly deleted rows as D. Entries carry (path, size, dv, dv_rows)
    * — [[effectiveFiles]]' shape, which [[readFilesDv]] reads. */
  private[graft] def changedFileStates(spark: SparkSession, root: String,
                                       fromVersion: Long, toVersion: Long)
      : (Seq[(String, Long, Option[String], Long)],
         Seq[(String, Long, Option[String], Long)]) = {
    // EFFECTIVE states on both sides: a pending equality delete
    // changes a file's effective rows exactly like a vector commit,
    // so the feed must see it as remove+add of the file's state (the
    // cached resolution keeps repeated diffs metadata-cheap)
    val a = effectiveFiles(spark, root, fromVersion)
    val b = effectiveFiles(spark, root, toVersion)
    // a file's identity is its EFFECTIVE CONTENT, not its sidecar's
    // NAME: resolution scratch paths are JVM-unique, so a pending
    // version resolved here diffed against the same deletes compacted
    // in another JVM would report spurious remove+add pairs for
    // content-identical files. Same path + same sidecar is trivially
    // unchanged; different sidecars with the SAME deleted-row count
    // compare the bitsets themselves (sidecars are tiny — ≤ rows/8
    // bytes — and only count-coinciding pairs pay the read), which
    // stays exact even across restore() discontinuities where two
    // different position sets could coincide in size.
    val conf = spark.sparkContext.hadoopConfiguration
    def bits(dv: Option[String]): java.util.BitSet =
      dv.map(readDvBits(conf, _)).getOrElse(new java.util.BitSet())
    def sameContent(x: (String, Long, Option[String], Long),
                    y: (String, Long, Option[String], Long)): Boolean =
      x._3 == y._3 || (x._4 == y._4 && bits(x._3) == bits(y._3))
    val bByPath = b.map(s => s._1 -> s).toMap
    val aByPath = a.map(s => s._1 -> s).toMap
    (a.filter(s => !bByPath.get(s._1).exists(sameContent(s, _)))
        .sortBy(_._1),
      b.filter(s => !aByPath.get(s._1).exists(sameContent(_, s)))
        .sortBy(_._1))
  }

  /** Change feed between two versions — [[VersionedTable
    * .changesBetween]] semantics, at cost ∝ CHANGED FILES, never ∝
    * table (the Delta CDF grain): the two MANIFESTS diff first
    * ([[changedFileSets]] — committed metadata), and only the files
    * removed between the versions (from-side) and added (to-side) are
    * scanned and key-diffed.
    *
    * Soundness, from the keyed contract (one row per key per version)
    * plus file immutability: a carried file's rows are identical at
    * both versions, so a key whose row lives in a carried file at one
    * version either lives in the SAME carried file at the other (no
    * change — and it can't also appear in a removed/added file, which
    * would duplicate the key) or the key changed, in which case its
    * row at the other version is in a removed/added file by
    * definition. Every I/U/D row therefore has both of its sides
    * inside the scanned subsets, and keys rewritten WITH IDENTICAL
    * CONTENT (a merge rewrote their file for a neighbor) drop out in
    * the diff's change filter exactly as before. On a 100 TB table a
    * 1-file append's feed batch scans one file, not two snapshots. */
  def changesBetween(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long,
                     keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "changesBetween requires key columns")
    val (removed, added) =
      changedFileStates(spark, root, fromVersion, toVersion)
    def subset(states: Seq[(String, Long, Option[String], Long)],
               version: Long): DataFrame =
      readFilesDv(spark, tableSchema(spark, root, version),
        states.map(s => (s._1, s._2, s._3)), states.map(_._4).sum)
    VersionedTable.diffKeyed(
      subset(removed, fromVersion), subset(added, toVersion),
      keyCols, fromVersion, toVersion)
  }

  /** Strip a bucket claim from every field — the inverse of
    * [[withBucketSpec]], preserving all other metadata (frozen
    * physical names in particular: the re-lay's files are new, but
    * the TABLE's column mapping must survive a rebucket). */
  private def clearBucketSpec(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(BucketKey)) f
      else f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove(BucketKey).remove(BucketPosKey).build())
    })

  /** REBUCKET — bucket-layout evolution: [[optimize]]'s full re-lay
    * committed TOGETHER with the new bucket claim. One shuffle of the
    * current rows by the new grid (landed as `gb=` directories),
    * committed with the re-stamped schema in the SAME commit — a
    * reader resolves either wholly-old or wholly-new layout, and
    * storage-partitioned joins plan on whichever version they
    * pinned. `bucketBy = None` DROPS the claim (the table becomes
    * plain — the escape hatch the frozen-layout refusals point at:
    * rebucket away, then widen/drop the former key); `Some((key, n))`
    * re-clusters by the new key/count, `key` a comma-separated list
    * for a multi-column grid. Like [[optimize]]: cost ∝ table (the
    * one legitimate full rewrite), pending equality deletes resolve
    * into the re-lay, deletion vectors purge, history stays
    * time-travelable under the old layout's own manifests. */
  def rebucket(spark: SparkSession, root: String,
               bucketBy: Option[(String, Int)],
               sortCols: Seq[String] = Nil,
               numFiles: Int = 16): Long = {
    require(numFiles >= 1, "numFiles must be >= 1")
    commitLoop(spark, root, validateCons = false) { (rec, meta) =>
      val schema = meta.schema
      val next = bucketBy match {
        case Some((k, n)) => withBucketSpec(clearBucketSpec(schema), k, n)
        case None         => clearBucketSpec(schema)
      }
      // the landing hashes PHYSICAL columns (what the re-laid frame
      // speaks); the declaration above stamped logical names
      val physKeys = bucketSpec(next).map { case (ks, n) =>
        (ks.mkString(","), n) }
      sortCols.foreach(c => require(schema.fieldNames.contains(c),
        s"sort column $c is not a table column"))
      val cur = readVersion(spark, root, rec.key.version)
      // optional IN-BUCKET clustering in the same pass: the grid
      // shuffle routes rows to cells, the per-cell sort lays them —
      // one rewrite instead of rebucket-then-optimize twice. A
      // dropped layout (bucketBy = None) re-lays like optimize:
      // `numFiles` range-clustered files (or a plain numFiles
      // compaction when no sort is named); a bucketed target's file
      // count is its cell count, so numFiles does not apply there.
      val laid =
        if (physKeys.nonEmpty) cur
        else if (sortCols.nonEmpty)
          cur.repartitionByRange(numFiles, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.map(col): _*)
        else cur.repartition(numFiles)
      val rows = landFiles(physSelect(laid, schema), root,
        statsCols(spark, rec), bucketAs = Some(physKeys),
        sortWithin = sortCols.map(c => physicalName(schema(c))))
      Some((rows, meta.copy(schema = next, eq = Nil)))
    }.get
  }

  /** OPTIMIZE: re-lay the CURRENT rows as a fresh file set (compaction
    * or re-clustering); content identical, all files replaced — the
    * one operation that is legitimately cost ∝ table. */
  def optimize(spark: SparkSession, root: String,
               sortCols: Seq[String] = Nil, numFiles: Int = 16,
               hilbert: Boolean = false): Long = {
    require(numFiles >= 1, "numFiles must be >= 1")
    require(!hilbert || sortCols.size >= 2,
      "hilbert clustering needs at least two columns")
    // the re-lay reads the EFFECTIVE rows (readVersion applies pending
    // equality deletes through the scan), so the replacement commits
    // under an empty registry; rows are preserved, not introduced —
    // constraint re-validation would double the re-lay's read cost
    // for rows that cannot have changed
    commitLoop(spark, root, validateCons = false) { (rec, meta) =>
      // re-lay BASE's rows (not a floating `current` — a conflict
      // recomputes against the new base, so no commit is ever lost)
      val cur = readVersion(spark, root, rec.key.version)
      val schema = meta.schema
      val bucketed = bucketSpec(schema).isDefined
      // a curve layout cannot survive the bucketed landing's cell
      // shuffle (and no in-bucket order re-establishes it) — a silent
      // full-cost no-op must refuse instead
      require(!hilbert || !bucketed,
        "hilbert clustering cannot survive a bucketed landing's cell " +
          "shuffle — rebucket() off the layout first, or cluster " +
          "in-bucket with plain sortCols")
      // a BUCKETED table's landing reshuffles by cell, so a range
      // pre-pass would be a wasted whole-table shuffle+sort — skip
      // it and let the landing's in-bucket sort lay the rows
      // (physical names: that's what the landed frame speaks)
      val laid =
        if (hilbert) // N-dim skipping: the shared equi-depth Hilbert layout
          ParquetSink.clusterByCurve(cur, sortCols, numFiles)
        else if (bucketed) cur
        else if (sortCols.isEmpty) cur.repartition(numFiles)
        else cur.repartitionByRange(numFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      Some((landFiles(physSelect(laid, schema), root,
        statsCols(spark, rec),
        sortWithin =
          if (hilbert) Nil
          else sortCols.map(c => physicalName(schema(c)))),
        meta.copy(eq = Nil)))
    }.get
  }

  /** INCREMENTAL optimize — maintenance cost ∝ the DEGRADED subset,
    * never the table (the 100 TB maintenance shape; [[optimize]] is
    * the legitimate-full-cost re-lay). Selection is METADATA-ONLY
    * over the manifest rows:
    *
    *   - SMALL files (`size < smallFileBytes`) — the log-structured
    *     append debris; compacted when at least two exist.
    *   - WIDE files (with `sortCols` on tracked NUMERIC/date/
    *     timestamp columns): per-file envelope-width geomean over the
    *     sort columns exceeding `wideFactor` × the population MEDIAN
    *     — appends that span the clustering domain and erode
    *     skipping; the median baseline self-calibrates against the
    *     domain's own scale. Files with UNKNOWN envelopes on a sort
    *     column are selected too: they are useless for pruning until
    *     rewritten with fresh stats.
    *
    * Selected files re-lay among themselves (range+sort when
    * `sortCols` given, plain compaction otherwise) into
    * `ceil(bytes/targetFileBytes)` files; every other file carries
    * forward BY REFERENCE. Returns None when nothing qualifies — the
    * no-op proof a second pass must hit. */
  def optimizeIncremental(spark: SparkSession, root: String,
                          sortCols: Seq[String] = Nil,
                          smallFileBytes: Long = 32L << 20,
                          targetFileBytes: Long = 128L << 20,
                          wideFactor: Double = 4.0,
                          hilbert: Boolean = false): Option[Long] = {
    require(wideFactor > 1.0, "wideFactor must exceed 1")
    require(!hilbert || sortCols.size >= 2,
      "hilbert clustering needs at least two columns")
    val base = latestVersion(spark, root)
    require(base >= 0, s"manifest table at $root has no committed version")
    val schema = tableSchema(spark, root, base)
    val stats = statsCols(spark, root, base)
    val widthCols = sortCols.filter { c =>
      stats.contains(c) && (schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false
      })
    }
    val m = manifest(spark, root, base)
    // per-file (path, size, envelope geomean | NULL unknown) — one
    // metadata-scale collect
    val widthExpr =
      if (widthCols.isEmpty) lit(null).cast("double")
      else widthCols.map { c =>
        org.apache.spark.sql.functions.log(greatest(
          col(s"${c}_max").cast("double") - col(s"${c}_min").cast("double"),
          lit(1e-12)))
      }.reduce(_ + _) / widthCols.size
    val rows = m.select(col("path"), col("size"),
        widthExpr.as("logw"), col("dv_rows"), col("row_count"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getLong(3), r.getLong(4)))
    val small = rows.filter(_._2 < smallFileBytes).map(_._1).toSet
    // DV-HEAVY files (vector covers ≥ half the rows): the read-side
    // tax (position skip + sidecar) now outweighs the rewrite it
    // deferred — rewriting purges the vector and restores exact
    // envelopes. Light vectors stay: that deferral IS the
    // merge-on-read win. Metadata-only selection, like the rest.
    val dvHeavy = rows.filter(r => r._4 > 0L && r._4 * 2 >= r._5)
      .map(_._1).toSet
    val wide: Set[String] =
      if (widthCols.isEmpty) Set.empty
      else {
        val known = rows.flatMap(r => r._3.map(w => (r._1, w)))
        if (known.isEmpty) rows.map(_._1).toSet // all unknown: refresh all
        else {
          val sorted = known.map(_._2).sorted
          val median = sorted(sorted.length / 2)
          val unknown = rows.filter(_._3.isEmpty).map(_._1).toSet
          known.filter(_._2 > median + math.log(wideFactor))
            .map(_._1).toSet ++ unknown
        }
      }
    val selected =
      (if (small.size >= 2) small else Set.empty[String]) ++ wide ++ dvHeavy
    if (selected.isEmpty) return None
    val selectedSeq = selected.toSeq.sorted
    val bytes = rows.filter(r => selected.contains(r._1)).map(_._2).sum
    // output file count must CONVERGE: enough range splits that each
    // output envelope lands back under the wide threshold (union
    // width / k ≤ wideFactor × median, with 2× margin for non-uniform
    // data), else a full-domain append would re-qualify every pass
    val byBytes = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    val byWidth: Long =
      if (widthCols.isEmpty) 1L
      else {
        val knownLogw = rows.flatMap(_._3)
        if (knownLogw.isEmpty) 1L
        else {
          // union envelope of the SELECTED files only (narrow small
          // files must not inherit the table's domain width, or their
          // compaction would over-split forever)
          val sel = m.filter(col("path").isin(selectedSeq: _*))
          val unionLogw = widthCols.map { c =>
            val r = sel.agg(max(col(s"${c}_max").cast("double")),
              min(col(s"${c}_min").cast("double"))).head()
            if (r.isNullAt(0) || r.isNullAt(1)) 0.0
            else math.log(math.max(r.getDouble(0) - r.getDouble(1), 1e-12))
          }.sum / widthCols.size
          val sortedW = knownLogw.sorted
          val medianLogw = sortedW(sortedW.length / 2)
          math.max(1L, math.ceil(
            2.0 * math.exp(unionLogw - medianLogw) / wideFactor).toLong)
        }
      }
    val nFiles = math.min(4096L, math.max(byBytes, byWidth)).toInt
    // a small-only pass that cannot CONSOLIDATE (outputs ≥ inputs)
    // would churn versions forever — that is a no-op, not an optimize
    // (a DV purge, like a wide re-lay, is progress regardless of count)
    if (wide.isEmpty && dvHeavy.isEmpty && nFiles >= selected.size)
      return None
    // row-preserving re-lay: skip constraint re-validation (see
    // optimize)
    commitLoop(spark, root, validateCons = false) { (rec, meta) =>
      // recompute against the CURRENT base on conflict: a selected
      // file may have been rewritten away — re-intersect with its
      // manifest so only still-live files rewrite. Schema and stats
      // are ALSO re-read per attempt (not the pre-loop pins): a
      // concurrent evolveSchema merge widens the schema, and reading
      // touched files with the stale narrower schema would silently
      // drop the evolved column's values from the rewritten files
      // while the commit still stamps the wider schema — data loss.
      // The EFFECTIVE view: a re-lay that read raw would resurrect
      // pending equality deletes into the fresh files
      val curSchema = meta.schema
      val (mb, live) = effectiveManifest(spark, root, rec)
      val curStats = statsOf(mb)
      val todo = live.filter(f => selected.contains(f.path))
      // re-lay reads apply the selected files' deletion vectors — the
      // rewrite is also the purge (output files carry no vector)
      val rowsIn = readFilesDv(spark, curSchema, todo.map(_.file),
        todo.map(_.dvRows).sum)
      // a BUCKETED table's landing reshuffles by cell: skip the
      // pre-sort it would destroy and re-lay inside each cell via
      // sortWithin instead (the same fix optimize/rebucket carry);
      // a curve layout has no in-bucket re-establishment — refuse
      val curBucketed = bucketSpec(curSchema).isDefined
      require(!hilbert || !curBucketed,
        "hilbert clustering cannot survive a bucketed landing's cell " +
          "shuffle — rebucket() off the layout first, or cluster " +
          "in-bucket with plain sortCols")
      val laid =
        if (hilbert) // the degraded subset re-lays on the shared curve
          ParquetSink.clusterByCurve(rowsIn, sortCols, nFiles)
        else if (curBucketed) rowsIn
        else if (sortCols.isEmpty) rowsIn.repartition(nFiles)
        else rowsIn.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      Some((withLanded(mb.filter(!col("path").isin(todo.map(_.path): _*)),
        landFiles(physSelect(laid, curSchema), root, curStats,
          sortWithin =
            if (hilbert) Nil
            else sortCols.map(c => physicalName(curSchema(c))))),
        meta.copy(eq = Nil)))
    }
  }

  /** Per-file BLOOM bits on `keyCol` — point-lookup pruning for the
    * case envelopes cannot serve: a hash-distributed key's min/max
    * spans every file, so `key = x` probes open the whole table
    * unless a membership structure answers per file. The bits live in
    * the manifest entries, as the nullable binary column
    * `<physical column>_bloom` ([[bloomCol]]); NULL means the file is
    * not indexed and is never pruned by bloom. Carried entries keep
    * their bits, landed entries start NULL, and a commit that changes
    * the column's type drops them — so vacuum, clones, branches,
    * restore and time travel need no bloom code, and a version's bits
    * always hash its own schema's type. `format("graft")` reads, the
    * registered-directory rule and the keyed row-level ops consult
    * them for equality/IN probes — no reader options.
    *
    * INCREMENTAL: one ordinary commit fills bits for the live files
    * that have none (cost ∝ those files; a CAS retry rebuilds them
    * under its new base). Adopted roots accept it: it changes no file
    * set. Returns the committed version, None when every live file
    * already has bits.
    *
    * Size: a file's bits weigh numBits/8 bytes (16 KiB at the
    * default) in EVERY later version's manifest, and every later
    * commit rewrites them with the entry. A bloomed manifest over
    * ~500 files passes the 8 MiB full-width cache gate
    * ([[ManifestFullMaxBytes]]), so its commits stage through a Spark
    * write instead of a driver-local one. */
  def buildBloom(spark: SparkSession, root: String, keyCol: String,
                 numBits: Int = 1 << 17, numHashes: Int = 5): Option[Long] =
    // row-preserving: no CHECK re-validation
    commitLoop(spark, root, validateCons = false, adopting = true) {
      (rec, meta) =>
        require(meta.schema.fieldNames.contains(keyCol),
          s"$keyCol is not a table column")
        // the bits read (and are named by) the column's PHYSICAL name —
        // stable under RENAME COLUMN, matching what data files carry.
        // Every attempt builds under ITS base's type: bits of a type a
        // racing widen replaced must never commit
        val key = meta.schema(keyCol)
        val physCol = physicalName(key)
        val bc = bloomCol(physCol)
        val m0 = manifest(spark, rec)
        val m =
          if (m0.columns.contains(bc)) m0
          else m0.withColumn(bc, lit(null).cast(BinaryType))
        val todo = m.filter(col(bc).isNull).select(col("path"), col("size"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        if (todo.isEmpty) None
        else {
          val bits = graft.sources.FileBloomIndex.buildFor(spark, todo,
              key.copy(name = physCol, dataType = physicalType(key.dataType)),
              numBits, numHashes)
            // filter rows carry input_file_name URIs; entries carry
            // canonical paths
            .select(canonPathCol(col("path")).as("path"),
              col("bloom").as("_bits"))
          // a shuffle join: the bits (numBits/8 bytes a file) reach the
          // staged manifest without passing through the driver
          Some((m.join(bits.hint("merge"), Seq("path"), "left")
            .withColumn(bc, coalesce(col(bc), col("_bits")))
            .select(m.columns.toIndexedSeq.map(col): _*), meta))
        }
    }

  /** The manifest column holding the bloom bits of physical column
    * `physCol` ([[buildBloom]]). */
  private[graft] def bloomCol(physCol: String): String = s"${physCol}_bloom"

  /** Table HISTORY — the DESCRIBE HISTORY/DETAIL ergonomics: one row
    * per retained version with its commit timestamp (running-max
    * normalized, the [[VersionedTable.commitTimestamps]] contract),
    * file count, row count, and bytes — all from the manifests alone,
    * zero data I/O, |versions| × |files| metadata rows. MANIFEST
    * GRAIN: a version with PENDING equality deletes reports its
    * pre-delete row count (the deletes live outside the manifest
    * until compaction — the same reason [[graft.plans.MetaAggRule]]
    * routes COUNT(*) to the scan for such versions); the zero-I/O
    * contract is the point of this surface, so the number is
    * documented rather than resolved. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val ts = VersionedTable.commitTimestamps(spark, manifestsRoot(root)).toMap
    // ONE aggregation job over the union of the retained manifests
    // (version tagged per branch) — not one serial job per version,
    // which turns sluggish at thousands of retained versions
    val vs = versions(spark, root)
    val agg: Map[Long, (Long, Long, Long)] =
      if (vs.isEmpty) Map.empty
      else {
        // ONE spark.read over every retained manifest epoch: the
        // hive-style `epoch=N` dirs give the version column via
        // partition discovery, and the explicit schema serves pre-DV
        // epochs' missing dv_rows as NULL (coalesced to 0). The
        // alternative — a per-version unionByName fold — builds a
        // |versions|-deep left-nested plan whose driver-side
        // analysis/optimization cost exceeds the serial jobs it
        // replaced at thousands of retained versions.
        val mroot = manifestsRoot(root)
        spark.read
          .schema("size BIGINT, row_count BIGINT, dv_rows BIGINT, epoch BIGINT")
          .option("basePath", mroot)
          .parquet(vs.map(v => s"$mroot/epoch=$v"): _*)
          .groupBy(col("epoch").as("version"))
          // LIVE rows: a deletion vector's rows are gone from the
          // reader's view, so they are gone from the version's count
          .agg(count(lit(1)).as("n_files"),
            coalesce(sum(col("row_count") -
              coalesce(col("dv_rows"), lit(0L))), lit(0L)).as("n_rows"),
            coalesce(sum(col("size")), lit(0L)).as("bytes"))
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      }
    val spk = spark
    import spk.implicits._
    // empty-manifest versions (a created-but-unloaded table) produce
    // no group — they still get their (0, 0, 0) history row
    vs.map { v =>
      val (nf, nr, b) = agg.getOrElse(v, (0L, 0L, 0L))
      (v, new java.sql.Timestamp(ts(v)), nf, nr, b)
    }.toDF("version", "committed_at", "n_files", "n_rows", "bytes")
  }

  /** Refcount-aware vacuum: drop manifest epochs beyond the newest
    * `keep`, then delete data files referenced by NO retained
    * manifest — but never files younger than `ttlMs` (a concurrent
    * writer's landed-but-uncommitted files must survive until its CAS
    * resolves). Also sweeps empty data/<uuid> directories. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
             ttlMs: Long = 24L * 3600 * 1000): Unit = {
    // TAGGED versions are pinned past the keep horizon — a tag is a
    // durable pin by contract; everything downstream (file/dv/eq
    // refcounts) follows automatically because it iterates the
    // RETAINED version list, which now includes the tagged epochs
    val refs = listRefs(spark, root)
    VersionedTable.vacuum(spark, manifestsRoot(root), keep, ttlMs,
      pinned = refs.collect { case (_, TagRef(v)) => v }.toSet)
    val referenced = versions(spark, root)
      .flatMap(v => filesAt(spark, root, v)).toSet
    // deletion-vector sidecars refcount exactly like data files: live
    // while ANY retained manifest's dv_path names them (abandoned
    // writer attempts and purged vectors age out by the same TTL)
    val dvReferenced = versions(spark, root)
      .flatMap(v => manifest(spark, root, v)
        .select(col("dv_path")).filter(col("dv_path").isNotNull)
        .collect().map(r => canon(r.getString(0)))).toSet
    val f = fs(spark, root)
    val now = System.currentTimeMillis()
    def sweep(sub: String, live: Set[String]): Unit = {
      val base = new Path(s"$root/$sub")
      if (!f.exists(base)) return
      // RECURSIVE: bucketed landings write one level deeper than
      // plain ones (data/<uuid>/gb=N/part-*), so the sweep walks the
      // whole subtree — stale files at any depth reclaim, and empty
      // directories collapse bottom-up (gb= dirs first, then their
      // landing dir)
      def walk(dir: Path): Unit = {
        f.listStatus(dir).foreach { s =>
          if (s.isDirectory) walk(s.getPath)
          else {
            val p = canon(s.getPath.toString)
            if (!live.contains(p) && now - s.getModificationTime >= ttlMs)
              f.delete(s.getPath, false): Unit
          }
        }
        if (dir != base && f.listStatus(dir).isEmpty)
          f.delete(dir, true): Unit
      }
      walk(base)
    }
    sweep("data", referenced)
    // equality-delete READ-RESOLUTION scratch (eqres-* under _dv) is
    // referenced only by the in-JVM cache until a commit adopts it —
    // the TTL sweep below ages abandoned resolutions out, and
    // [[effectiveStates]] re-validates a cache hit's sidecar exists
    sweep(DvSub, dvReferenced)
    // equality-delete KEY files refcount like vectors: live while any
    // retained version's registry names their directory
    val eqReferenced = versions(spark, root)
      .flatMap(v => metaAt(spark, root, v).eq.map(e => canon(e.path))).toSet
    val eqBase = new Path(eqRoot(root))
    if (f.exists(eqBase)) {
      f.listStatus(eqBase).filter(_.isDirectory).foreach { d =>
        if (!eqReferenced.contains(canon(d.getPath.toString)) &&
            now - d.getModificationTime >= ttlMs)
          f.delete(d.getPath, true): Unit
      }
    }
    // ORPHANED branch remnants: a dropped branch's directory can keep
    // files main still referenced at drop time; once main's own
    // history stops naming them, this sweep reclaims what remains.
    // Dirs WITH a live ref are the branch's own manifest table — its
    // own vacuum manages it; never touched from here.
    val bBase = new Path(s"$root/$BranchesSub")
    if (f.exists(bBase)) {
      val named = refs.collect { case (n, BranchRef(_)) => n }.toSet
      f.listStatus(bBase).filter(_.isDirectory).foreach { d =>
        if (!named.contains(d.getPath.getName))
          sweepBranchDir(spark, root, d.getPath.toString, ttlMs)
      }
    }
  }
}
