package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.StatsPruneRule

/** DataSourceV2 table format over [[graft.sinks.VersionedTable]] —
  * the epoch table as a FIRST-CLASS Spark source:
  *
  * {{{
  *   spark.read.format("graft").load(root)                        // current epoch
  *   spark.read.format("graft").option("versionAsOf", 3).load(root) // time travel
  * }}}
  *
  * Three properties fall out of the epoch contract:
  *
  *   - SNAPSHOT ISOLATION: the version is resolved ONCE, when the
  *     table object is created; the scan reads that epoch's immutable
  *     files no matter how many commits land afterwards — a reader
  *     can never observe a half-applied rewrite or a moved pointer.
  *   - TIME TRAVEL: `versionAsOf` reads any retained epoch (the
  *     `readVersion` API surfaced as reader syntax).
  *   - DATA SKIPPING INSIDE THE SOURCE: a manifest table's file index
  *     receives the pushed data filters (the DSv2 `listFiles`
  *     contract) and drops files the manifest's envelopes and bloom
  *     bits PROVE unmatching — the same proof engine as the planner
  *     rule ([[StatsPruneRule]]), but running inside the
  *     source, so it needs no session extension and composes with any
  *     plan shape that pushes filters. Parquet row-group pushdown,
  *     column pruning, and vectorized reading are inherited from the
  *     built-in parquet scan this source delegates to — the engine's
  *     own strengths are reused, not reimplemented.
  *
  * Writes bridge into each format's OWN commit protocol (see
  * [[GraftTable.newWriteBuilder]]): row appends need the manifest
  * format; an epoch-directory table takes only whole-table
  * overwrites.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft"

  /** STREAMING SINK (`df.writeStream.format("graft").option("path",
    * root)`): micro-batches commit into a MANIFEST table through
    * [[graft.sinks.ManifestTable.writeBatch]] — per-batch cost (the
    * file-list append grain) and EXACTLY-ONCE by the replay marker
    * committed atomically with each manifest version, so the
    * checkpoint's redelivered batch after a restart is a no-op. A
    * missing table is created empty on the first batch (schema from
    * the stream; `statsCols` option declares the tracked columns),
    * which keeps creation and the first data commit separately
    * idempotent. Append mode appends; Complete mode overwrites (a
    * re-delivered Complete batch rewrites the same content —
    * idempotent by value); Update mode folds each batch's changed
    * rows as a MERGE-ON-READ upsert keyed by the `keyCols` option
    * (replay re-merges identical rows onto a state that already holds
    * them — idempotent by value at the keyed grain). */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft tables cluster via OPTIMIZE/maintenance, not partitionBy")
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft streaming sink requires a path option"))
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val update =
      outputMode == org.apache.spark.sql.streaming.OutputMode.Update()
    val updateKeys = parameters.get("keyCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    require(!update || updateKeys.nonEmpty,
      "graft streaming sink in Update mode needs the table's key — " +
        "option(\"keyCols\", ...) — each micro-batch's changed rows " +
        "then fold as a merge-on-read upsert")
    // Update mode's keyed grain: 'merge-on-read' (default — matched
    // positions vector per batch) or 'equality-delete' (the batch's
    // keys commit as an equality delete: ZERO target reads per
    // micro-batch, resolved at read / compacted by maintenance)
    val grain = parameters.getOrElse("mergeMode", "merge-on-read")
      .toLowerCase
    require(grain == "merge-on-read" || grain == "equality-delete",
      s"graft streaming sink mergeMode must be merge-on-read or " +
        s"equality-delete, got $grain")
    val complete =
      outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    new GraftStreamSink(root, statsCols, complete,
      if (update) updateKeys else Nil, eqGrain = grain == "equality-delete",
      mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean))
  }

  override def supportsExternalMetadata(): Boolean = true

  /** inferSchema → getTable handoff: Spark calls the two back-to-back
    * on the same thread during source resolution, with no channel to
    * carry state between them. Without one, each call would re-read
    * `latestVersion` independently, and a commit landing between them
    * would pair one epoch's inferred schema with a DIFFERENT epoch's
    * data — a torn resolution the documented snapshot-isolation
    * property forbids. inferSchema records the version it resolved,
    * keyed by root; getTable consumes it (once) for the same root. */
  private val resolvedAt: ThreadLocal[Option[(String, Long)]] =
    ThreadLocal.withInitial(() => None)

  private def resolve(options: CaseInsensitiveStringMap)
      : (SparkSession, String, Long, Boolean) = {
    val spark = SparkSession.active
    val root0 = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft source requires a path: spark.read.format(\"graft\").load(root)"))
    require(options.get("versionAsOf") == null ||
      options.get("timestampAsOf") == null,
      "give versionAsOf or timestampAsOf, not both")
    // a NON-NUMERIC versionAsOf names a REF — Iceberg's
    // `VERSION AS OF 'name'` surface (ref names can never parse as a
    // version, enforced at creation): a TAG resolves to its pinned
    // main version; a BRANCH redirects the whole read to the branch's
    // own manifest table at its head
    val namedRef = Option(options.get("versionAsOf"))
      .filter(v => !v.matches("-?\\d+"))
    val (root, pinnedByRef) = namedRef match {
      case None => (root0, None)
      case Some(name) =>
        graft.sinks.ManifestTable.readRef(spark, root0, name) match {
          case Some(graft.sinks.ManifestTable.TagRef(v)) =>
            (root0, Some(v))
          case Some(graft.sinks.ManifestTable.BranchRef(_)) =>
            (graft.sinks.ManifestTable.branchRoot(root0, name), None)
          case None => throw new IllegalArgumentException(
            s"no ref '$name' on $root0 — VERSION AS OF takes a " +
              "version number, a tag, or a branch name")
        }
    }
    // (resolution continues below; whether the caller PINNED the
    // version explicitly is what decides the table's write surface —
    // see [[timeTraveled]])
    // a manifest table ([[graft.sinks.ManifestTable]]) resolves its
    // version through its _manifests VersionedTable — epoch-directory
    // tables resolve at the root; one reader syntax for both layouts
    val isManifest = graft.sinks.ManifestTable.exists(spark, root)
    val vtRoot =
      if (isManifest) graft.sinks.ManifestTable.manifestsRoot(root) else root
    val version = pinnedByRef
      .orElse(Option(options.get("versionAsOf"))
        .filter(_ => namedRef.isEmpty).map(_.toLong))
      .orElse(GraftTimeTravel.resolveTimestampAsOf(spark, vtRoot, options))
      .orElse(resolvedAt.get().collect { case (r, v) if r == root => v })
      .getOrElse(graft.sinks.VersionedTable.latestVersion(spark, vtRoot))
    require(version >= 0, s"versioned table at $root has no committed epoch")
    require(graft.sinks.VersionedTable.versions(spark, vtRoot).contains(version),
      s"versioned table at $root has no epoch $version " +
        "(vacuumed or never committed)" +
        graft.sinks.VersionedTable.CrashedSweepHint)
    (spark, root, version, isManifest)
  }

  /** The `keyCols` option switches the source into CHANGE-FEED mode
    * ([[GraftChangeFeedTable]]): the streaming diff needs the table's
    * key, and a snapshot read never does — so the option doubles as
    * the mode flag, like Delta's `readChangeFeed`. */
  private def feedKeys(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("keyCols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Whether ANY table (either layout) is committed at the path. A
    * missing table resolves to a capability-less PLACEHOLDER instead
    * of failing resolution: `writeStream.format("graft")` must be
    * able to target a not-yet-created table (the sink creates it on
    * the first batch), and DataStreamWriter resolves the DSv2 table
    * BEFORE it can fall back to the V1 sink. Reads through the
    * placeholder still fail with a clear message, at scan time. */
  private def tableMissing(options: CaseInsensitiveStringMap): Boolean = {
    val spark = SparkSession.active
    Option(options.get("path")).exists { root =>
      options.get("versionAsOf") == null &&
        options.get("timestampAsOf") == null &&
        !graft.sinks.ManifestTable.exists(spark, root) &&
        graft.sinks.VersionedTable.latestVersion(spark, root) < 0
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // drop any handoff a FAILED earlier load left behind — a stale
    // (root, version) would silently pin a later read of the same
    // root to an outdated snapshot
    resolvedAt.remove()
    if (tableMissing(options)) return new StructType()
    val (spark, root, v, isManifest) = resolve(options)
    resolvedAt.set(Some((root, v)))
    val dataSchema =
      if (isManifest) graft.sinks.ManifestTable.tableSchema(spark, root, v)
      else spark.read.parquet(s"$root/epoch=$v").schema
    if (feedKeys(options).isEmpty) dataSchema
    else GraftChangeFeedTable.feedSchema(dataSchema)
  }

  /** Whether the reader PINNED the snapshot explicitly — such a handle
    * is read-only: its V1 write bridge would commit against the
    * table's LATEST version regardless of the pinned one, so a write
    * through a time-traveled handle would silently target a different
    * version than the one the table name claims. */
  private def timeTraveled(options: CaseInsensitiveStringMap): Boolean =
    options.get("versionAsOf") != null || options.get("timestampAsOf") != null

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    if (tableMissing(options))
      return new GraftMissingTable(options.get("path"))
    val (spark, root, v, isManifest) = resolve(options)
    resolvedAt.remove()
    val keys = feedKeys(options)
    // streaming start options (Delta's startingVersion /
    // startingTimestamp): skip the snapshot bootstrap and begin at
    // the named version's own changes — validated when the stream
    // resolves its initial offset (fresh checkpoints only)
    val startV = Option(options.get("startingVersion"))
    val startT = Option(options.get("startingTimestamp"))
    // append-only streaming mode (no key — rows verbatim, appends
    // only): `option("streamMode", "append")`
    Option(options.get("streamMode")).map(_.toLowerCase).foreach { m =>
      require(m == "append",
        s"graft streamMode must be 'append' (the keyed change feed is " +
          s"the keyCols option), got $m")
      require(keys.isEmpty,
        "streamMode=append and keyCols are mutually exclusive — the " +
          "keyed change feed already streams updates and deletes")
      // a pinned snapshot cannot stream: the bootstrap resolves its
      // own start version, so silently honoring the pin for schema
      // inference alone would stream a DIFFERENT version than asked
      require(!timeTraveled(options),
        "streamMode=append cannot combine with versionAsOf/" +
          "timestampAsOf — the stream bootstraps from the latest " +
          "retained version; pin a snapshot with a batch read instead")
      return new GraftAppendStreamTable(spark, root, schema,
        startingVersion = startV, startingTimestamp = startT)
    }
    if (keys.isEmpty) {
      require(startV.isEmpty && startT.isEmpty,
        "startingVersion/startingTimestamp are streaming options — a " +
          "batch read pins a snapshot with versionAsOf/timestampAsOf")
      val modes = Seq("deleteMode", "updateMode", "mergeMode").flatMap(k =>
        Option(options.get(k)).map(v => k.toLowerCase -> v.toLowerCase)).toMap
      modes.foreach { case (k, v) => require(
        v == "merge-on-read" || v == "copy-on-write" ||
          (k == "mergemode" && v == "equality-delete"),
        s"$k must be merge-on-read or copy-on-write (mergeMode also " +
          s"accepts equality-delete), got $v") }
      new GraftTable(spark, root, v, schema, isManifest,
        readOnly = timeTraveled(options), writeModes = modes)
    } else new GraftChangeFeedTable(spark, root, keys, schema,
      startingVersion = startV, startingTimestamp = startT)
  }
}

/** Placeholder for a path holding NO committed table — capability-less
  * so any read/write planned against it fails at analysis, while the
  * V1 streaming-sink fallback (which creates the table) can proceed. */
private[v2] final class GraftMissingTable(root: String) extends Table {
  override def name(): String = s"graft.`$root` (no committed table)"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Collections.emptySet()
}

/** The streaming sink itself — see [[GraftTableProvider.createSink]].
  * `addBatch` runs on the driver per micro-batch; the data lands
  * through the manifest commit protocol (one distributed write + a
  * metadata-scale manifest swap), never a collect. */
private[v2] final class GraftStreamSink(root: String, statsCols: Seq[String],
                                        complete: Boolean,
                                        updateKeys: Seq[String] = Nil,
                                        eqGrain: Boolean = false,
                                        mergeSchema: Boolean = false)
  extends org.apache.spark.sql.execution.streaming.Sink {

  override def name(): String = s"graft-sink.`$root`"

  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit = {
    val spark = data.sparkSession
    // the micro-batch frame arrives flagged streaming, which forbids
    // every batch write API — re-wrap it (same rows and plan), the
    // standard V1-sink move
    val batch0 = org.apache.spark.sql.graft.GraftSqlShims.toBatchDF(data.toDF())
    // mergeSchema option: a restarted stream whose upstream grew new
    // columns EVOLVES the table on its first differing batch (the
    // additive metadata-only commits), then lands under the evolved
    // schema with absent table columns filled NULL — instead of
    // refusing the append until a manual ALTER
    val batch =
      if (!mergeSchema || !graft.sinks.ManifestTable.exists(spark, root))
        batch0
      else {
        // steady-state fast path: one schema read per batch, and a
        // batch matching the table verbatim skips evolve AND fill
        val ts = graft.sinks.ManifestTable.tableSchema(spark, root,
          graft.sinks.ManifestTable.latestVersion(spark, root))
        val cs = spark.conf
          .get("spark.sql.caseSensitive", "false").toBoolean
        if (!graft.sinks.ManifestTable.needsMergeEvolution(ts,
            batch0.schema, cs)) {
          if (batch0.schema == ts) batch0
          else graft.sinks.ManifestTable.fillForSchema(batch0, ts)
        } else {
          graft.sinks.ManifestTable.evolveSchemaFor(spark, root,
            batch0.schema)
          graft.sinks.ManifestTable.fillForSchema(batch0,
            graft.sinks.ManifestTable.tableSchema(spark, root,
              graft.sinks.ManifestTable.latestVersion(spark, root)))
        }
      }
    if (!graft.sinks.ManifestTable.exists(spark, root)) {
      statsCols.foreach(c => require(data.columns.contains(c),
        s"statsCols column $c is not a stream column"))
      graft.sinks.ManifestTable.create(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), data.schema),
        root, statsCols): Unit
    }
    if (complete) {
      // Complete re-delivers the WHOLE result each trigger; a replayed
      // batch rewrites identical content — idempotent by value
      graft.sinks.ManifestTable.overwrite(batch, root): Unit
    } else if (updateKeys.nonEmpty) {
      // Update mode: the batch is the CHANGED aggregate rows — fold
      // them as a merge-on-read upsert (matched keys vector, batch
      // appends, nothing rewrites), EXACTLY-ONCE via the replay
      // marker committed atomically with the version. A redelivered
      // batch (id == the table's marker) is detected HERE, before any
      // job runs over the micro-batch; an id BELOW the marker is a
      // checkpoint/table mismatch the engine refuses loudly — silent
      // swallowing would be data loss.
      if (batchId != graft.sinks.ManifestTable.lastAppliedBatch(spark, root)) {
        // the keyed contract demands ONE row per key per batch — true
        // for the aggregate streams Update mode exists for; a
        // duplicate-carrying stream would silently break the
        // one-row-per-key table, so refuse loudly (cost: one
        // aggregation job over the micro-batch)
        val dups = batch.groupBy(updateKeys.map(
            org.apache.spark.sql.functions.col): _*)
          .count().filter(org.apache.spark.sql.functions.col("count") > 1)
          .limit(1).count()
        require(dups == 0L,
          "graft streaming sink in Update mode requires one row per key " +
            "per micro-batch (the keyed-aggregate contract); for " +
            "duplicate-carrying streams use foreachBatch with applyCdcMor " +
            "and a sequence column")
        if (eqGrain)
          graft.sinks.ManifestTable.mergeEqBatch(batch, root, updateKeys,
            batchId): Unit
        else
          graft.sinks.ManifestTable.mergeMorBatch(batch, root, updateKeys,
            batchId): Unit
      }
    } else
      graft.sinks.ManifestTable.writeBatch(batch, root, batchId): Unit
  }
}

/** `timestampAsOf` reader-option support: accepts epoch milliseconds
  * or an ISO-8601 instant and resolves to the latest retained epoch
  * whose (monotone-normalized) commit stamp is <= t — see
  * [[graft.sinks.VersionedTable.versionAtTimestamp]] for the contract
  * (fail-fast on vacuumed history, running-max stamp normalization). */
private[graft] object GraftTimeTravel {

  def parseTs(s: String): Long =
    try s.trim.toLong
    catch {
      case _: NumberFormatException =>
        java.time.Instant.parse(s.trim).toEpochMilli
    }

  def resolveTimestampAsOf(spark: SparkSession, root: String,
                           options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("timestampAsOf")).map { s =>
      require(options.get("versionAsOf") == null,
        "give versionAsOf or timestampAsOf, not both")
      graft.sinks.VersionedTable.versionAtTimestamp(spark, root, parseTs(s))
    }
}

/** One resolved version of a versioned/manifest table (immutable
  * snapshot): epoch-directory tables list `epoch=N`; manifest tables
  * list exactly the resolved manifest's files and prune against that
  * manifest's OWN envelopes (the stats are structurally in sync with
  * the file list — no coverage dance needed). */
final class GraftTable(spark: SparkSession, root: String, version: Long,
                       dataSchema: StructType,
                       isManifest: Boolean = false,
                       readOnly: Boolean = false,
                       writeModes: Map[String, String] = Map.empty)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graft.`$root` @ v$version"

  override def schema(): StructType = dataSchema

  /** The table root and manifest-ness — what the write-side
    * auto-merge rule ([[graft.plans.GraftSchemaMergeRule]]) needs to
    * evolve the table and rebuild a fresh handle. */
  private[graft] def tableRoot: String = root
  private[graft] def manifestBacked: Boolean = isManifest && !readOnly

  /** This handle reporting a DIFFERENT schema — the auto-merge rule
    * resolves an evolving append against the UNCOMMITTED merged
    * schema so the evolution commits inside the write itself
    * (compensated on a failed landing), never during analysis. */
  private[graft] def withDataSchema(s: StructType): GraftTable =
    new GraftTable(spark, root, version, s, isManifest, readOnly,
      writeModes)

  /** (root, resolved version) when this is a manifest-table snapshot —
    * [[graft.plans.MetaAggRule]] answers whole-table aggregates from
    * that manifest with zero data I/O. */
  private[graft] def manifestInfo: Option[(String, Long)] =
    if (isManifest) Some((root, version)) else None

  /** The version's CHECK-constraint registry, reported through the
    * DSv2 surface: DESCRIBE shows them, and the analyzer's own
    * constraint resolution adds write-side row checks on SQL INSERTs
    * — defense in depth ABOVE the commit-loop validation every
    * landing already runs ([[graft.sinks.ManifestTable]]). ENFORCED +
    * VALID + RELY is honest: addConstraint proved the existing rows,
    * and every later commit re-proves its own batch. */
  private lazy val constraintsCached
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    if (!isManifest) Array.empty
    else graft.sinks.ManifestTable.constraintsAt(spark, root, version)
      .map { case (n, e) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(e)
          .enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .rely(true)
          .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray

  // lazy + pinned: this handle is an immutable (root, version)
  // snapshot and the analyzer may ask several times per statement —
  // one sidecar read serves them all
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    constraintsCached

  /** The manifest root when SQL row-level commands (MERGE INTO /
    * UPDATE / DELETE — [[graft.plans.GraftRowLevelSqlRule]]) may
    * rewrite through this handle: manifest-format only (epoch tables
    * keep their documented full-copy Scala API), and never through a
    * pinned snapshot. */
  private[graft] def rowLevelRoot: Option[String] =
    if (isManifest && !readOnly) Some(root) else None

  /** Declared row-level write modes (`deleteMode` / `updateMode` table
    * properties, Iceberg's write-mode ergonomics): 'merge-on-read'
    * routes the SQL statement onto the DELETION-VECTOR ops
    * ([[graft.sinks.ManifestTable.deleteWhereMor]]/`updateWhereMor`);
    * the default stays copy-on-write. */
  private[graft] def morDelete: Boolean =
    writeModes.get("deletemode").contains("merge-on-read")
  private[graft] def morUpdate: Boolean =
    writeModes.get("updatemode").contains("merge-on-read")
  private[graft] def morMerge: Boolean =
    writeModes.get("mergemode").contains("merge-on-read")
  /** `mergeMode = 'equality-delete'` — the pure-upsert SQL MERGE
    * commits the source's keys as an equality delete (zero target
    * reads); general clause shapes fall back to the vector grain. */
  private[graft] def eqMerge: Boolean =
    writeModes.get("mergemode").contains("equality-delete")

  /** A time-traveled resolution advertises NO write capabilities (and
    * [[newWriteBuilder]] fails fast as defense in depth): the V1
    * bridge commits against the table's latest version, so a write
    * through a pinned-snapshot handle would target a different version
    * than the one this table's name claims. */
  override def capabilities(): java.util.Set[TableCapability] =
    if (readOnly) java.util.EnumSet.of(TableCapability.BATCH_READ)
    else if (isManifest)
      // AUTOMATIC_SCHEMA_EVOLUTION is what lets the analyzer's own
      // `MERGE WITH SCHEMA EVOLUTION` rule route the source's new
      // columns through catalog.alterTable (the additive evolution
      // commits) before the merge compiles — see also
      // [[graft.plans.GraftSchemaMergeRule]] for the append surface
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
        TableCapability.TRUNCATE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    else java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** Writes bridge through V1 (`InsertableRelation`) into the table
    * formats' OWN commit protocols — an INSERT INTO / writeTo.append
    * is a real CAS-committed version, never a blind directory write.
    * Manifest tables append at file-list cost. Epoch tables have no
    * row-level writes (every epoch is a full snapshot): an append
    * REFUSES, naming the manifest format, the same way the change
    * feed's append mode refuses them. `overwrite = true` (TRUNCATE)
    * replaces content on either format — on an epoch table it commits
    * the next epoch — and history stays time-travelable. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (readOnly) throw new UnsupportedOperationException(
      s"$name was resolved with versionAsOf/timestampAsOf — a pinned " +
        "snapshot is read-only (a write would commit against the " +
        "table's LATEST version, not the one this handle names); " +
        "write through an unpinned handle instead")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var truncateRequested = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        truncateRequested = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwriteFlag: Boolean) => {
              val replace = truncateRequested || overwriteFlag
              // mergeSchema option / spark.graft.schema.autoMerge: an
              // append carrying new columns (or lacking old ones)
              // EVOLVES the table and fills — the writer-path half of
              // write-side schema auto-merge (the catalog-identifier
              // half is [[graft.plans.GraftSchemaMergeRule]]; this
              // path's relation reports the batch's own schema via
              // external metadata, so the commit gate is here)
              val autoMerge =
                Option(info.options.get("mergeSchema")).map(_.toBoolean)
                  .getOrElse(spark.conf
                    .get("spark.graft.schema.autoMerge", "false").toBoolean)
              if (isManifest) {
                if (replace) graft.sinks.ManifestTable.overwrite(data, root)
                else if (autoMerge)
                  graft.sinks.ManifestTable.writeMergeSchema(data, root): Unit
                else graft.sinks.ManifestTable.write(data, root): Unit
              } else if (replace)
                graft.sinks.VersionedTable.write(data, root): Unit
              else throw new UnsupportedOperationException(
                s"$name is an epoch-directory table: every epoch is a " +
                  "full snapshot, so it takes whole-table overwrites " +
                  "only — row appends need the manifest format " +
                  "(graft.sinks.ManifestTable.create the table, then " +
                  "INSERT INTO / append)")
            }
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // data files carry PHYSICAL column names (stable under RENAME
    // COLUMN); the delegated builders and the manifest index speak
    // physical, and the [[GraftMappedScanBuilder]] shim translates at
    // the boundary. Unmapped tables (physical == logical everywhere)
    // take the exact pre-mapping path.
    val physSchema =
      if (isManifest) graft.sinks.ManifestTable.toPhysical(dataSchema)
      else dataSchema
    type PushdownBuilder = ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
      with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    def mapped(b: PushdownBuilder): PushdownBuilder =
      if (isManifest && graft.sinks.ManifestTable.hasMapping(dataSchema))
        new GraftMappedScanBuilder(b, dataSchema)
      else b
    // bucketed tables report KeyGroupedPartitioning — one input
    // partition per hash bucket — so co-bucketed equi-joins run
    // SHUFFLE-FREE (storage-partitioned joins). The regrouping
    // handles the composite DV scan's partitions too, so steady-state
    // deletes between maintenance ticks never cost a table its joins.
    // GATED on the same conf that lets Spark exploit the reported
    // partitioning: bucket-grained partitions cap a scan at n tasks
    // (the price of alignment — Iceberg's preserve-data-grouping
    // trade), so with v2 bucketing disabled the grouping would be
    // pure parallelism loss and the plain split-parallel plan serves.
    // the (path → bucket) map is one driver collect over the manifest
    // — computed at most ONCE per scan build (the SPJ grouping and
    // the bucket pruner both consume it), never for unbucketed tables
    lazy val bucketsOfVersion: Map[String, Long] =
      graft.sinks.ManifestTable.fileBuckets(spark, root, version)
    def bucketed(b: PushdownBuilder): PushdownBuilder =
      graft.sinks.ManifestTable.bucketSpecLogical(dataSchema) match {
        case Some((ks, n)) if isManifest &&
            spark.conf.get("spark.sql.sources.v2.bucketing.enabled",
              "false").toBoolean =>
          new GraftBucketedScanBuilder(b, ks, n, bucketsOfVersion)
        case _ => b
      }
    if (isManifest) {
        // the manifest IS the listing: paths, sizes, and a commit
        // timestamp all come from committed metadata, so the scan
        // plans with ZERO filesystem calls (the Delta log-backed-index
        // shape) — at 100k files an InMemoryFileIndex would stat each.
        val rec = graft.sinks.ManifestTable.recordAt(spark, root, version)
        val m = graft.sinks.ManifestTable.manifest(spark, rec)
        val cols = graft.sinks.ManifestTable.statsCols(spark, rec)
        val ts = rec.tsMs
        // bucket-transform predicate pruning serves point/IN probes on
        // a bucketed key from metadata alone — NOT gated on the SPJ
        // conf (pruning costs nothing; only bucket-grained task
        // grouping trades parallelism)
        val bucketPrune = graft.sinks.ManifestTable
          .bucketSpecLogical(dataSchema).map { case (ks, n) =>
            (ks.map(graft.sinks.ManifestTable.physicalFor(dataSchema, _)),
              n, bucketsOfVersion)
          }
        // LIMIT / TOP-N pushdown: the outermost builder parks the
        // pushed limit (or order+limit) here; indexes built with a
        // full exact live-row map consult them at listing time (see
        // [[GraftManifestFileIndex.limitFiles]]/[[topNFiles]])
        val limitCell =
          new java.util.concurrent.atomic.AtomicReference[Option[Int]](None)
        val topNCell = new java.util.concurrent.atomic
          .AtomicReference[Option[GraftTopN]](None)
        // per-file envelope triplets for ONE column — collected lazily
        // (only when a top-N was actually pushed), metadata-scale
        def envStats(physCol: String)
            : Map[String, (Option[Any], Option[Any], Option[Long])] =
          if (!cols.contains(physCol)) Map.empty
          else m.select(org.apache.spark.sql.functions.col("path"),
              org.apache.spark.sql.functions.col(s"${physCol}_min"),
              org.apache.spark.sql.functions.col(s"${physCol}_max"),
              org.apache.spark.sql.functions.col(s"${physCol}_nulls"))
            .collect().map { r =>
              r.getString(0) -> ((Option(r.get(1)), Option(r.get(2)),
                if (r.isNullAt(3)) None else Some(r.getLong(3))))
            }.toMap
        def subIndex(files: Seq[(String, Long)],
                     exactRowsByPath: Map[String, Long] = Map.empty) =
          new GraftManifestFileIndex(spark, root, files, ts, physSchema,
            Some((m, cols)), bucketPrune,
            if (exactRowsByPath.isEmpty) None
            else Some((() => limitCell.get, exactRowsByPath)),
            if (exactRowsByPath.isEmpty) None
            else Some((() => topNCell.get, envStats _)))
        // runtime file filtering ([[GraftRuntimeFilterScanBuilder]]):
        // the scan takes the dynamic-pruning planner's join-key values
        // on every column the manifest can prove things about — the
        // kept set re-runs the SAME listFiles proof engine (envelopes,
        // blooms, bucket grid) over the version's full file list
        def runtimeFilterable(b: PushdownBuilder,
                              allFiles: Seq[(String, Long)],
                              exactRows: Option[Long] = None)
            : ScanBuilder = {
          val physToLogical = dataSchema.fields.map(f =>
            (graft.sinks.ManifestTable.physicalFor(dataSchema, f.name),
              f.name)).toMap
          // bloom bits serve the equality/IN probes envelopes can't
          // (hash-distributed keys)
          val blooms = physToLogical.keys.filter(c =>
            m.columns.contains(graft.sinks.ManifestTable.bloomCol(c)))
          val physAttrs = (cols ++ blooms ++
            graft.sinks.ManifestTable.bucketSpec(dataSchema)
              .map(_._1).getOrElse(Nil)).distinct
          val attrs = physAttrs.flatMap(physToLogical.get).distinct
          // per-column envelope statistics for COST-BASED planning:
          // one metadata aggregate over the manifest's stat triplets,
          // run lazily and only when CBO asks ([[GraftRuntimeFilter
          // Scan.columnStatistics]]); min/max are supersets of the
          // live rows under pending deletes — the right direction for
          // an estimate
          def colStats(): Map[String,
              org.apache.spark.sql.connector.read.colstats
                .ColumnStatistics] = {
            // ANALYZE-pass NDV ([[graft.sinks.ManifestTable
            // .analyzeTable]]): the join-cardinality driver CBO has no
            // other source for; physical-keyed, may cover columns the
            // envelopes don't track (and vice versa)
            val ndvMap = graft.sinks.ManifestTable.metaAt(
              spark, root, version).ndv
            val statCols = (cols ++ ndvMap.keys.filter(
              physToLogical.contains)).distinct
            if (statCols.isEmpty) Map.empty
            else {
              import org.apache.spark.sql.functions.{max => smax, min => smin, sum => ssum}
              val envCols = statCols.filter(cols.contains)
              val row =
                if (envCols.isEmpty) null
                else {
                  val aggs = envCols.flatMap(c => Seq(
                    smin(org.apache.spark.sql.functions.col(s"${c}_min"))
                      .as(s"${c}_min"),
                    smax(org.apache.spark.sql.functions.col(s"${c}_max"))
                      .as(s"${c}_max"),
                    ssum(org.apache.spark.sql.functions.col(s"${c}_nulls"))
                      .as(s"${c}_nulls")))
                  m.agg(aggs.head, aggs.tail: _*).head()
                }
              statCols.flatMap { c =>
                physToLogical.get(c).map { logical =>
                  val dt = physSchema(c).dataType
                  val conv = org.apache.spark.sql.catalyst
                    .CatalystTypeConverters.createToCatalystConverter(dt)
                  val hasEnv = row != null && envCols.contains(c)
                  val lo =
                    if (!hasEnv) None
                    else Option(row.getAs[Any](s"${c}_min")).map(conv)
                  val hi =
                    if (!hasEnv) None
                    else Option(row.getAs[Any](s"${c}_max")).map(conv)
                  val nulls =
                    if (!hasEnv) None
                    else Option(row.getAs[Any](s"${c}_nulls"))
                      .map(_.asInstanceOf[Long])
                  val ndv = ndvMap.get(c)
                  logical -> (new org.apache.spark.sql.connector.read
                      .colstats.ColumnStatistics {
                    override def min(): java.util.Optional[Object] =
                      lo.map(v => java.util.Optional.of(
                        v.asInstanceOf[Object]))
                        .getOrElse(java.util.Optional.empty())
                    override def max(): java.util.Optional[Object] =
                      hi.map(v => java.util.Optional.of(
                        v.asInstanceOf[Object]))
                        .getOrElse(java.util.Optional.empty())
                    override def nullCount(): java.util.OptionalLong =
                      nulls.map(java.util.OptionalLong.of)
                        .getOrElse(java.util.OptionalLong.empty())
                    override def distinctCount(): java.util.OptionalLong =
                      ndv.map(java.util.OptionalLong.of)
                        .getOrElse(java.util.OptionalLong.empty())
                  })
                }
              }.toMap
            }
          }
          new GraftRuntimeFilterScanBuilder(b, attrs,
            name => graft.sinks.ManifestTable.physicalFor(dataSchema, name),
            filters => subIndex(allFiles).listFiles(Nil, filters)
              .flatMap(_.files).map(_.getPath.toUri.getPath).toSet,
            exactRows, () => colStats(),
            limitSink = Some(n => limitCell.set(Some(n))),
            topNSink = Some(tn => topNCell.set(Some(tn))))
        }
        def composite(filt: Seq[GraftFiltFile],
                      clean: Seq[(String, Long)], cleanRows: Option[Long],
                      probes: Seq[GraftEqProbeGroup],
                      cleanExact: Map[String, Long] = Map.empty)
            : ScanBuilder = {
          // row-filtering composite scan — clean files on the
          // ordinary pruned/delegated path, filtered files on the
          // SAME delegated vectorized path with the parquet row-index
          // column (and any missing probe key column) appended;
          // deleted positions and probed-out keys drop in the
          // wrapping readers ([[GraftDvScanBuilder]]). Both branches
          // prune from envelopes/blooms — sound for the filtered
          // branch too, since stats are a superset of the live rows
          // and excluded files contribute no survivors.
          val filtSchema = org.apache.spark.sql.types.StructType(
            physSchema.fields :+ GraftDvScanBuilder.RowIndexField)
          runtimeFilterable(bucketed(mapped(new GraftDvScanBuilder(spark,
            ParquetScanBuilder(spark, subIndex(clean, cleanExact),
              physSchema, physSchema, options),
            ParquetScanBuilder(spark,
              subIndex(filt.map(f => (f.path, f.size))), filtSchema,
              filtSchema, options),
            filt, probes, cleanRows, ts))),
            clean ++ filt.map(f => (f.path, f.size)))
        }
        // pending equality deletes apply PER TASK above the columnar
        // scan by default (broadcast key sets — a pure SELECT writes
        // NOTHING; the Iceberg v2 reader shape). The conf forces, and
        // oversized/exotic-keyed deletes fall back to, the
        // materializing path below.
        val materialize = spark.conf
          .get("spark.graft.eq.materializeOnRead", "false").toBoolean
        val probesOpt =
          if (materialize) None
          else graft.sinks.ManifestTable.eqProbes(spark, root, version)
        probesOpt match {
          case Some(probes) =>
            val files = graft.sinks.ManifestTable
              .rawFiles(spark, root, version)
            def appl(p: String, seq: Long): Array[Int] =
              probes.indices.filter(i =>
                probes(i).seq > seq && probes(i).touched.contains(p))
                .toArray
            val filt = files.flatMap { case (p, s, dv, seq, rc, dvr) =>
              val a = appl(p, seq)
              if (dv.isDefined || a.nonEmpty)
                Some(GraftFiltFile(p, s, dv, a, rc, dvr))
              else None
            }
            if (filt.nonEmpty) {
              val filtSet = filt.map(_.path).toSet
              val clean = files.filterNot(f => filtSet(f._1))
              val groups = probes.map { pr =>
                GraftEqProbeGroup(pr.keyCols.map(k => physSchema(
                  graft.sinks.ManifestTable.physicalFor(dataSchema, k))),
                  pr.keys)
              }
              return composite(filt, clean.map(f => (f._1, f._2)),
                Some(clean.map(_._5).sum), groups,
                // clean files carry no vectors and no applicable
                // probes — footer row counts are their exact live rows
                clean.map(f => (f._1, f._5)).toMap)
            }
            val list = files.map(f => (f._1, f._2))
            return runtimeFilterable(bucketed(mapped(
              ParquetScanBuilder(spark,
                subIndex(list, files.map(f => (f._1, f._5 - f._6)).toMap),
                physSchema, physSchema, options))), list,
              Some(files.map(f => f._5 - f._6).sum))
          case None =>
            // scratch-materializing path: pending equality deletes
            // resolve into deletion vectors (effectiveFiles — cached
            // per version) and serve through the DV machinery
            val states = graft.sinks.ManifestTable
              .effectiveFiles(spark, root, version)
            val dvd = states.collect { case (p, sz, Some(dv), dvr) =>
              GraftFiltFile(p, sz, Some(dv), Array.empty, 0L, dvr) }
            if (dvd.nonEmpty) {
              val clean = states.collect { case (p, sz, None, _) =>
                (p, sz) }
              return composite(dvd, clean, None, Nil)
            }
            val list = states.map(f => (f._1, f._2))
            return runtimeFilterable(bucketed(mapped(
              ParquetScanBuilder(spark, subIndex(list), physSchema,
                physSchema, options))), list)
        }
    }
    // epoch-directory table: a plain listing of the epoch, no pruning
    val index = new InMemoryFileIndex(spark,
      Seq(new Path(s"$root/epoch=$version")), Map.empty, Some(dataSchema))
    bucketed(
      mapped(ParquetScanBuilder(spark, index, physSchema, physSchema,
        options)))
  }

  /** Bucketed tables report their layout as the standard transform —
    * DESCRIBE and catalog tooling see `bucket(n, key)`. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    graft.sinks.ManifestTable.bucketSpecLogical(dataSchema) match {
      case Some((ks, n)) if isManifest =>
        ks.map(k => org.apache.spark.sql.connector.expressions.Expressions
          .bucket(n, k)).toArray
      case _ => Array.empty
    }
}

/** The shared manifest-envelope and bloom proofs, guarded against
  * optimizer re-entry; a failed proof logs and excludes nothing. */
private[v2] object GraftManifestProofs
    extends org.apache.spark.internal.Logging {
  def excluded(spark: SparkSession, root: String, cond: Expression,
               manifest: org.apache.spark.sql.DataFrame,
               statsCols: Seq[String]): Set[String] = {
    StatsPruneRule.inMetadataQuery.set(true)
    try StatsPruneRule.excludedByManifest(spark, cond, manifest, statsCols)
    catch {
      case e: Exception =>
        logWarning(s"graft manifest pruning skipped for $root: $e")
        Set.empty[String]
    } finally StatsPruneRule.inMetadataQuery.set(false)
  }
}

/** A pushed `ORDER BY <col> LIMIT n`: physical sort column, direction,
  * null placement, and the row target — see
  * [[GraftManifestFileIndex.topNFiles]]. */
final case class GraftTopN(physCol: String, ascending: Boolean,
                           nullsFirst: Boolean, limit: Int)

/** MANIFEST-BACKED file index — the scan's listing materialized from
  * committed metadata with ZERO filesystem calls at planning time
  * (the Delta TahoeFileIndex shape): paths and sizes come from the
  * manifest rows, the modification timestamp from the version's
  * commit stamp, and pushed data filters prune against the manifest's
  * own envelopes and bloom bits. At 100k+ files the stat-per-file a
  * generic InMemoryFileIndex issues is the dominant planning cost; here
  * planning touches only the |files|-row manifest that was read to
  * resolve the version anyway. */
final class GraftManifestFileIndex(
    sparkSession: SparkSession, root: String,
    filesAndSizes: Seq[(String, Long)], commitTsMs: Long,
    dataSchema: StructType,
    manifest: Option[(org.apache.spark.sql.DataFrame, Seq[String])],
    bucketPrune: Option[(Seq[String], Int, Map[String, Long])] = None,
    limitPrune: Option[(() => Option[Int], Map[String, Long])] = None,
    topNPrune: Option[(() => Option[GraftTopN],
      String => Map[String, (Option[Any], Option[Any], Option[Long])])] =
      None)
  extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
    sparkSession, Map.empty[String, String], Some(dataSchema),
    org.apache.spark.sql.execution.datasources.FileStatusCache
      .getOrCreate(sparkSession)) {

  // QUALIFIED paths throughout: the base class resolves its listing
  // by looking up leafDirToChildrenFiles under the fs-qualified root
  // paths, so both the keys and the roots must carry the scheme
  // (qualification is pure URI resolution — still zero FS calls)
  private val statuses: Seq[(Path, org.apache.hadoop.fs.FileStatus)] =
    filesAndSizes.map { case (p, size) =>
      val raw = new Path(p)
      val path = raw.getFileSystem(
        sparkSession.sparkContext.hadoopConfiguration).makeQualified(raw)
      path -> new org.apache.hadoop.fs.FileStatus(size, false, 1,
        128L * 1024 * 1024, commitTsMs, path)
    }

  override val rootPaths: Seq[Path] =
    statuses.map(_._1.getParent).distinct
  override def partitionSpec(): org.apache.spark.sql.execution.datasources.PartitionSpec =
    org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
  override val leafFiles: scala.collection.mutable.LinkedHashMap[Path, org.apache.hadoop.fs.FileStatus] =
    scala.collection.mutable.LinkedHashMap(statuses: _*)
  override val leafDirToChildrenFiles: Map[Path, Array[org.apache.hadoop.fs.FileStatus]] =
    statuses.groupBy(_._1.getParent)
      .view.mapValues(_.map(_._2).toArray).toMap
  override def refresh(): Unit = ()

  /** Files surviving the last `listFiles` (volatile test hook). */
  @volatile var lastListedFiles: Int = -1

  /** BUCKET-TRANSFORM predicate pruning (the Iceberg shape): a point
    * or IN predicate on a bucketed table's key hashes its literals
    * with the WRITE-SIDE function (catalyst Murmur3, seed 42 —
    * evaluating the same `Murmur3Hash` expression the landing's
    * `pmod(hash(key), n)` routing uses, so the two can never diverge,
    * any key type included) and keeps only the matching buckets'
    * files — free metadata, no bloom build needed, and exactly what
    * envelopes cannot serve on a hash-distributed key (every file's
    * [min,max] spans every probe). Conjuncts intersect; any shape but
    * a top-level =/<=>/IN on the key is conservatively ignored. A
    * file with no recorded bucket is kept. Sound under deletion
    * vectors and pending equality deletes: a file outside the
    * literal's bucket provably holds no row with that key, deleted or
    * live. */
  private def allowedBuckets(dataFilters: Seq[Expression])
      : Option[Set[Long]] = bucketPrune.flatMap { case (keys, n, _) =>
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualNullSafe, EqualTo, In, InSet, Literal, Murmur3Hash}
    // per KEY COLUMN, the set of pinned (value, type) candidates from
    // the conjuncts — each key hashes into its own grid dimension, so
    // ANY pinned key prunes (unpinned dimensions stay full);
    // conjuncts on one key intersect
    def ofConjunct(e: Expression): Option[(String, Set[(Any,
        org.apache.spark.sql.types.DataType)])] = e match {
      case EqualTo(a: Attribute, l: Literal) if keys.contains(a.name) =>
        Some(a.name -> Set((l.value, l.dataType)))
      case EqualTo(l: Literal, a: Attribute) if keys.contains(a.name) =>
        Some(a.name -> Set((l.value, l.dataType)))
      case EqualNullSafe(a: Attribute, l: Literal)
          if keys.contains(a.name) =>
        Some(a.name -> Set((l.value, l.dataType)))
      case EqualNullSafe(l: Literal, a: Attribute)
          if keys.contains(a.name) =>
        Some(a.name -> Set((l.value, l.dataType)))
      case In(a: Attribute, vs) if keys.contains(a.name) &&
          vs.forall(_.isInstanceOf[Literal]) =>
        Some(a.name -> vs.map { case l: Literal =>
          (l.value, l.dataType) }.toSet)
      case InSet(a: Attribute, vs) if keys.contains(a.name) =>
        Some(a.name -> vs.map(v => (v, a.dataType)))
      case _ => None
    }
    val perKey = dataFilters.flatMap(ofConjunct)
      .groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ & _)).toMap
    if (!keys.exists(perKey.contains)) None
    else {
      // per-dimension allowed buckets: pinned keys hash their
      // candidate literals (exactly the write side's per-column
      // pmod(hash(k), n)); unpinned dimensions keep all n. The
      // composite ids come from the dimensions' cross product — a
      // large product stops pruning rather than enumerating it
      def bucketOf(v: Any, dt: org.apache.spark.sql.types.DataType)
          : Long = {
        val h = Murmur3Hash(Seq(Literal.create(v, dt)), 42)
          .eval(null).asInstanceOf[Int]
        ((h.toLong % n) + n) % n
      }
      val dims: Seq[Seq[Long]] = keys.map(k => perKey.get(k) match {
        case Some(vs) => vs.toSeq.map { case (v, dt) => bucketOf(v, dt) }
          .distinct
        case None => (0L until n.toLong).toSeq
      })
      if (dims.map(_.size.toLong).product > 1024L) None
      else Some(dims.reduceLeft((acc, d) =>
        acc.flatMap(a => d.map(b => a * n + b))).toSet)
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val excluded: Set[String] =
      if (dataFilters.isEmpty) Set.empty
      else {
        val cond = dataFilters.reduce(And)
        manifest.map { case (m, cols) =>
          GraftManifestProofs.excluded(sparkSession, root, cond, m, cols)
        }.getOrElse(Set.empty)
      }
    val buckets: Option[Set[Long]] =
      if (dataFilters.isEmpty) None else allowedBuckets(dataFilters)
    def bucketKeeps(path: String): Boolean = buckets match {
      case None => true
      case Some(allowed) =>
        bucketPrune.get._3.get(path).forall(allowed.contains)
    }
    val pruned =
      if (excluded.isEmpty && buckets.isEmpty) base
      else base.map { pd =>
        pd.copy(files = pd.files.filterNot { f =>
          val p = f.getPath.toUri.getPath
          excluded.contains(p) || !bucketKeeps(p)
        })
      }
    val limited = limitFiles(partitionFilters, dataFilters, pruned)
    lastListedFiles = limited.map(_.files.length).sum
    limited
  }

  /** LIMIT pushdown at the FILE grain (the Iceberg shape): an
    * unfiltered `LIMIT n` keeps only the shortest listing-order
    * PREFIX of files whose manifest-exact live row counts sum to ≥ n
    * — the rest of a 100k-file table never plans a task. Sound
    * because Spark pushes a limit only below filter-free plans (any
    * subset with ≥ n live rows serves an unordered LIMIT), the kept
    * counts are exact (clean files' footer rows, or rows − dv_rows;
    * files with rows an equality probe might still drop are never
    * offered in the map), and the pruning fires only when EVERY
    * listed file's count is known — a single unknown keeps the full
    * listing. The limit operator stays in the plan (partial push), so
    * the slice itself is always Spark's. */
  private def limitFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression],
                         base: Seq[PartitionDirectory])
      : Seq[PartitionDirectory] = {
    val unfiltered = partitionFilters.isEmpty && dataFilters.isEmpty
    topNPrune.flatMap { case (get, statsFor) =>
      if (unfiltered) get().map(tn => (tn, statsFor)) else None
    } match {
      case Some((tn, statsFor)) => return topNFiles(tn, statsFor, base)
      case None => ()
    }
    val limit = limitPrune.flatMap { case (get, _) =>
      if (unfiltered) get() else None
    }
    limit match {
      case Some(n) =>
        val exact = limitPrune.get._2
        val listed = base.flatMap(_.files.map(f => f.getPath.toUri.getPath))
        val counts = listed.map(exact.get)
        if (counts.exists(_.isEmpty)) base   // unknown must keep, never guess
        else if (counts.flatten.sum <= n.toLong) base
        else {
          var cum = 0L
          val keep = scala.collection.mutable.HashSet.empty[String]
          listed.iterator.zip(counts.iterator.flatten).foreach {
            case (p, rows) =>
              if (cum < n) { keep += p; cum += rows }
          }
          base.map(pd => pd.copy(files =
            pd.files.filter(f => keep(f.getPath.toUri.getPath))))
        }
      case None => base
    }
  }

  /** TOP-N pushdown at the FILE grain — beyond what envelope pruning
    * or a plain limit can do: `ORDER BY k LIMIT n` (no filter) keeps
    * only the files that can PROVABLY hold one of the n first rows
    * under the sort. The proof runs on manifest-exact metadata alone:
    * with files ordered by their envelope's leading bound, the
    * shortest prefix whose non-null live rows cover the needed count
    * bounds the n-th value by its largest trailing bound (`cutoff`) —
    * any file whose whole envelope sits strictly beyond it holds only
    * rows that provably lose to the prefix's. NULLS FIRST counts every
    * file's exact null count against n before values; NULLS LAST
    * needs no null reasoning once the prefix proves n non-null values
    * exist. Fires only when every listed file has exact live counts
    * and envelopes (the clean-files-only indexes — vectored/probed
    * files ride a sibling index that never prunes), on key types
    * whose order provably matches the envelope folds
    * ([[GraftTopNOrder]]: numerics, date, timestamp, and
    * UTF8_BINARY-collated strings — any other collation abstains).
    * On a range-clustered 100 TB table this plans ONE file for a
    * top-10.
    * Always a superset of the answer: Spark's retained Sort + Limit
    * do the exact slice. */
  private def topNFiles(tn: GraftTopN,
      statsFor: String => Map[String, (Option[Any], Option[Any],
        Option[Long])],
      base: Seq[PartitionDirectory]): Seq[PartitionDirectory] = {
    final case class FS(path: String, rows: Long, nulls: Long,
                        lo: Option[Any], hi: Option[Any])
    def kept(): Option[Set[String]] = {
      val exact = limitPrune.map(_._2).getOrElse(return None)
      val ord0 = GraftTopNOrder.orderingFor(
        if (dataSchema.fieldNames.contains(tn.physCol))
          dataSchema(tn.physCol).dataType
        else return None).getOrElse(return None)
      val stats = statsFor(tn.physCol)
      val listed = base.flatMap(_.files.map(_.getPath.toUri.getPath))
      val fss = listed.map { p =>
        val rows = exact.getOrElse(p, return None)
        val (mn, mx, nl) = stats.getOrElse(p, return None)
        val nulls = nl.getOrElse(return None)
        // a missing envelope is sound ONLY as the all-NULL file;
        // anything else is unknown — unknown must keep, never guess
        if (mn.isEmpty != mx.isEmpty) return None
        if (mn.isEmpty && nulls < rows) return None
        FS(p, rows, nulls, mn, mx)
      }
      val n = tn.limit.toLong
      if (fss.map(_.rows).sum <= n) return None
      // orient so "lo" leads the sort: ASC walks envelope minima
      // upward, DESC walks maxima downward under the reversed order
      val ord = if (tn.ascending) ord0 else ord0.reverse
      def lo(f: FS) = if (tn.ascending) f.lo else f.hi
      def hi(f: FS) = if (tn.ascending) f.hi else f.lo
      def values(f: FS) = f.rows - f.nulls
      val m = if (tn.nullsFirst) math.max(0L, n - fss.map(_.nulls).sum)
              else n
      if (m == 0L)
        // NULLS FIRST and the exact null counts alone cover n: only
        // null-bearing files can contribute
        return Some(fss.filter(_.nulls > 0).map(_.path).toSet)
      val valueFiles = fss.filter(values(_) > 0L)
        .sortBy(f => lo(f).get)(ord.asInstanceOf[Ordering[Any]])
      if (valueFiles.map(values).sum < m) return None
      var cum = 0L
      var cutoff: Option[Any] = None
      valueFiles.foreach { f =>
        if (cum < m) {
          cum += values(f)
          cutoff = Some(cutoff.fold(hi(f).get)(c =>
            if (ord.gteq(hi(f).get, c)) hi(f).get else c))
        }
      }
      val co = cutoff.get
      Some(fss.filter { f =>
        (tn.nullsFirst && f.nulls > 0) || lo(f).exists(v => ord.lteq(v, co))
      }.map(_.path).toSet)
    }
    kept() match {
      case Some(keep) => base.map(pd => pd.copy(files =
        pd.files.filter(f => keep(f.getPath.toUri.getPath))))
      case None => base
    }
  }
}

/** Driver-side ordering over COLLECTED envelope bounds, for the key
  * types whose external representation orders exactly like the
  * engine's sort: fixed-size numerics, decimal, date, timestamps —
  * and strings under the default `UTF8_BINARY` collation, whose sort
  * IS the unsigned UTF-8 byte order the envelope folds were built
  * under ([[graft.sources.FooterStats]] folds binary stats that way
  * for exactly this reason). A column typed with any OTHER collation
  * returns None — its sort order has no relation to the byte-ordered
  * envelopes — and a sort over a collate() EXPRESSION never reaches
  * here (pushTopN only accepts bare column references). */
private[v2] object GraftTopNOrder {
  def orderingFor(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType |
           _: DecimalType =>
        Some(Ordering.fromLessThan((a: Any, b: Any) =>
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0))
      case st: StringType
          if org.apache.spark.sql.graft.GraftSqlShims.isUtf8Binary(st) =>
        Some(Ordering.fromLessThan((a: Any, b: Any) =>
          java.util.Arrays.compareUnsigned(
            a.asInstanceOf[String].getBytes(
              java.nio.charset.StandardCharsets.UTF_8),
            b.asInstanceOf[String].getBytes(
              java.nio.charset.StandardCharsets.UTF_8)) < 0))
      case _ => None
    }
  }
}
