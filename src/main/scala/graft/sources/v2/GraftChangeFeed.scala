package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING change-feed source over manifest tables — the Delta-style
  * `spark.readStream.format("graft")`:
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("keyCols", "doc_id")      // the change-feed switch
  *     .load(root)
  * }}}
  *
  * Offsets ARE table versions (plus a file cursor while the bootstrap
  * drains — [[GraftVersionOffset]]). Each micro-batch (v₀, v₁]
  * delivers the derived Debezium-shaped diff
  * ([[graft.sinks.ManifestTable.changesBetween]]): key columns +
  * payload + `op` (I/U/D) + `seq` = v₁. The FIRST batch(es) bootstrap
  * — the whole table at the stream's starting version as 'I' rows.
  * This is the engine's one change consumer: Structured Streaming's
  * checkpoint is the durable consumer offset (at-least-once across
  * crashes, an unacknowledged batch re-plans). Piped into
  * [[graft.sinks.ManifestTable.applyCdc]] on a downstream table this
  * is the medallion hop, and it is REPLAY-IDEMPOTENT: a restart
  * re-plans the same (v₀, v₁] from the checkpoint, versions are
  * immutable, and the diff is deterministic, so the re-delivered
  * batch folds to the same content.
  *
  * Contract: the table is KEYED (one row per key at every version —
  * the merge/applyCdc invariant) and `keyCols` names its key. A
  * stream that lagged past vacuumed history fails fast naming
  * retention — re-bootstrap with a fresh checkpoint.
  *
  * Scale shape:
  *   - BOOTSTRAP: served DIRECTLY from the resolved version's own
  *     immutable files — zero copy (the version's parquet is read in
  *     place through the delegated vectorized reader, with constant
  *     `op = 'I'`, `seq = v` appended per row). `maxFilesPerTrigger`
  *     is the admission control: a 100 TB bootstrap arrives as
  *     bounded file batches, each offset-committed, restartable
  *     mid-drain.
  *   - CATCH-UP: each batch costs one keyed diff, which scans only the
  *     files CHANGED between the two versions
  *     ([[graft.sinks.ManifestTable.changedFileSets]] — cost ∝
  *     changed files, never ∝ table), and `maxVersionsPerTrigger`
  *     bounds how many versions one batch spans. The diff delta
  *     materializes once under the stream's checkpoint scratch and is
  *     swept at offset commit.
  */
final class GraftChangeFeedTable(spark: SparkSession, root: String,
                                 keyCols: Seq[String],
                                 feedSchema: StructType,
                                 startingVersion: Option[String] = None,
                                 startingTimestamp: Option[String] = None)
  extends Table with SupportsRead {

  override def name(): String = s"graft-changes.`$root`"
  override def schema(): StructType = feedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = feedSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftChangeFeedStream(spark, root, keyCols, feedSchema,
          checkpointLocation,
          Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
          Option(options.get("maxFilesPerTrigger")).map(_.toLong),
          startingVersion = startingVersion,
          startingTimestamp = startingTimestamp)
    }
}

object GraftChangeFeedTable {
  /** Feed schema = table schema + the op/seq control columns. */
  def feedSchema(dataSchema: StructType): StructType =
    StructType(dataSchema.fields.toSeq :+
      StructField("op", StringType, nullable = false) :+
      StructField("seq", LongType, nullable = false))
}

/** APPEND-ONLY streaming source — the plain `readStream` shape for
  * unkeyed ingest tables (Delta's most common streaming read):
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("streamMode", "append")   // no key needed
  *     .load(root)
  * }}}
  *
  * Rows arrive VERBATIM (no op/seq control columns): the bootstrap
  * serves the starting version's own files zero-copy under
  * `maxFilesPerTrigger` admission, and every catch-up batch serves
  * exactly the files its versions APPENDED — no diff job, no scratch,
  * cost ∝ appended data. A commit that removed or changed rows
  * (row-level op, keyed upsert, compaction) fails the stream fast
  * with the version named — `skipChangeCommits = true` skips such
  * commits instead. Same offsets, admission control, and replay idempotence
  * as the change feed ([[GraftChangeFeedStream]] — this is the same
  * stream in append mode). */
final class GraftAppendStreamTable(spark: SparkSession, root: String,
                                   dataSchema: StructType,
                                   startingVersion: Option[String] = None,
                                   startingTimestamp: Option[String] = None)
  extends Table with SupportsRead {

  override def name(): String = s"graft-appends.`$root`"
  override def schema(): StructType = dataSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = dataSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftChangeFeedStream(spark, root, Nil, dataSchema,
          checkpointLocation,
          Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
          Option(options.get("maxFilesPerTrigger")).map(_.toLong),
          appendMode = true,
          skipChangeCommits =
            Option(options.get("skipChangeCommits")).exists(_.toBoolean),
          startingVersion = startingVersion,
          startingTimestamp = startingTimestamp)
    }
}

/** A table version as a streaming offset. `boot = Some(k)` marks a
  * PARTIAL BOOTSTRAP: the first k files (path-sorted) of `version`
  * have been delivered as 'I' rows and the rest are still owed — the
  * file cursor that makes a 100 TB bootstrap restartable in bounded
  * batches. Absent `boot` (the shape every pre-cursor checkpoint
  * carries) means the version is fully consumed. */
final case class GraftVersionOffset(version: Long,
                                    boot: Option[Long] = None) extends Offset {
  override def json(): String = boot match {
    case Some(k) => s"""{"version":$version,"boot":$k}"""
    case None    => s"""{"version":$version}"""
  }
}

object GraftVersionOffset {
  private val VRe = """"version"\s*:\s*(-?\d+)""".r.unanchored
  private val BRe = """"boot"\s*:\s*(\d+)""".r.unanchored
  def parse(json: String): GraftVersionOffset = {
    val v = json match {
      case VRe(x) => x.toLong
      case _ => throw new IllegalArgumentException(s"bad graft offset: $json")
    }
    val b = json match {
      case BRe(k) => Some(k.toLong)
      case _      => None
    }
    GraftVersionOffset(v, b)
  }
}

/** One leaf of the delegated parquet read, carrying the reader
  * factory its batch was planned with (a MicroBatchStream has one
  * global factory but plans per-batch scans — the partition is the
  * only channel wide enough to ship the per-batch factory). */
final case class GraftDelegatingPartition(inner: InputPartition,
                                          factory: PartitionReaderFactory)
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** A bootstrap leaf: the delegated read of one slice of the snapshot's
  * own files, with the constant (op = 'I', seq) pair appended per row
  * — the zero-copy way to emit a whole immutable version as inserts. */
final case class GraftBootstrapPartition(inner: InputPartition,
                                         factory: PartitionReaderFactory,
                                         seq: Long)
  extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

object GraftDelegatingReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    p match {
      case GraftDelegatingPartition(inner, f) => f.createReader(inner)
      case GraftBootstrapPartition(inner, f, seq) =>
        val r = f.createReader(inner)
        new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
          // one reusable joined row per reader — downstream copies at
          // buffering boundaries, the standard PartitionReader contract
          private val consts =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](
                org.apache.spark.unsafe.types.UTF8String.fromString("I"), seq))
          private val joined =
            new org.apache.spark.sql.catalyst.expressions.JoinedRow
          override def next(): Boolean = r.next()
          override def get(): org.apache.spark.sql.catalyst.InternalRow =
            joined(r.get(), consts)
          override def close(): Unit = r.close()
        }
      case other => throw new IllegalStateException(s"unexpected $other")
    }
  override def supportColumnarReads(p: InputPartition): Boolean = false
}

final class GraftChangeFeedStream(spark: SparkSession, root: String,
                                  keyCols: Seq[String],
                                  feedSchema: StructType,
                                  checkpointLocation: String,
                                  maxVersionsPerTrigger: Option[Long] = None,
                                  maxFilesPerTrigger: Option[Long] = None,
                                  appendMode: Boolean = false,
                                  skipChangeCommits: Boolean = false,
                                  startingVersion: Option[String] = None,
                                  startingTimestamp: Option[String] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
  with org.apache.spark.internal.Logging {

  /** Trigger.AvailableNow snapshot: without native support Spark
    * wraps the stream and the wrapper's latestOffset bypasses the
    * inner admission control — one giant catch-up batch. Supporting
    * the trigger natively keeps `maxVersionsPerTrigger` /
    * `maxFilesPerTrigger` honored while the run still stops at the
    * versions available at start. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentVersion)

  private def currentVersion: Long =
    graft.sinks.ManifestTable.latestVersion(spark, root)

  private def retainedVersions: Seq[Long] =
    graft.sinks.ManifestTable.versions(spark, root)

  private def oldestRetained: Long =
    retainedVersions.headOption.getOrElse(currentVersion)

  /** The table columns of the feed (feed schema minus op/seq; in
    * append mode the feed IS the table) — the read schema of a
    * bootstrap slice. */
  private val dataSchema: StructType =
    if (appendMode) feedSchema
    else StructType(feedSchema.fields.dropRight(2))

  /** Path-sorted (path, size, dv sidecar, dv rows) of one version's
    * EFFECTIVE data files — the bootstrap's deterministic file order,
    * from committed metadata; pending equality deletes resolve into
    * vectors (cached per version), so bootstrap slices serve live rows
    * only. Versions are immutable, so the memo is sound across the
    * stream's lifetime. */
  private val bootFilesMemo = scala.collection.concurrent.TrieMap
    .empty[Long, IndexedSeq[(String, Long, Option[String], Long)]]

  private def bootstrapFiles(v: Long)
      : IndexedSeq[(String, Long, Option[String], Long)] =
    bootFilesMemo.getOrElseUpdate(v,
      graft.sinks.ManifestTable.effectiveFiles(spark, root, v)
        .sortBy(_._1).toIndexedSeq)

  /** `startingVersion` / `startingTimestamp` — the Delta streaming
    * options that SKIP the snapshot bootstrap: the stream begins at
    * the named version's own changes (a 100 TB table whose consumer
    * only wants "changes from v / from time t" never pays a 100 TB
    * bootstrap). `startingVersion = v` serves every commit ≥ v;
    * `"latest"` serves only commits after stream start;
    * `startingTimestamp = t` resolves to the EARLIEST commit stamped
    * at-or-after t. Fresh checkpoints only — a restart resumes from
    * its checkpoint and the options are inert (the Delta contract).
    * The diff of (v-1, v] reads version v-1's state, so v-1 must
    * still be RETAINED: a start version vacuumed away fails fast with
    * the re-bootstrap contract named, never a silently partial feed. */
  private def resolveStart(): Option[Long] = {
    require(startingVersion.isEmpty || startingTimestamp.isEmpty,
      "give startingVersion or startingTimestamp, not both")
    val sv = startingVersion.map {
      case s if s.equalsIgnoreCase("latest") => currentVersion + 1L
      case s => s.toLong
    }.orElse(startingTimestamp.map { s =>
      val tsMs = GraftTimeTravel.parseTs(s)
      val stamped = graft.sinks.ManifestTable.commitTimestamps(spark, root)
      stamped.find(_._2 >= tsMs).map(_._1).getOrElse(
        throw new IllegalArgumentException(
          s"startingTimestamp $s is after the latest commit of $root " +
            s"(${stamped.lastOption.map(_._2).getOrElse(-1L)} ms) — " +
            "nothing would ever stream; start from 'latest' instead"))
    })
    // a timestamp at-or-before the FIRST commit resolves to version 0 —
    // "everything from the beginning", which is exactly the snapshot
    // bootstrap (Delta streams from the start here too; for the change
    // feed the head snapshot is the keyed-compaction equivalent of the
    // full event history). Map it rather than tripping the
    // startingVersion >= 1 require with an option-mismatched message.
    // An EXPLICIT startingVersion 0 still refuses below: that option's
    // contract is "skip the bootstrap", which version 0 cannot honor.
    if (startingTimestamp.nonEmpty && sv.contains(0L)) return None
    sv.foreach { v =>
      require(v >= 1L,
        s"startingVersion must be >= 1 (got $v) — to stream the whole " +
          "table, drop the option and let the stream bootstrap")
      require(v <= currentVersion + 1L,
        s"startingVersion $v names an uncommitted future version of " +
          s"$root (latest is $currentVersion)")
      require(retainedVersions.contains(v - 1L),
        s"startingVersion $v of $root needs version ${v - 1L} retained " +
          "(the diff reads its state) but it was vacuumed — " +
          "re-bootstrap without the option, or start later" +
          graft.sinks.ManifestTable.CrashedSweepHint)
    }
    sv
  }

  override def initialOffset(): Offset =
    resolveStart() match {
      case Some(v) => GraftVersionOffset(v - 1L)
      case None    => GraftVersionOffset(-1L)
    }

  override def latestOffset(): Offset = GraftVersionOffset(currentVersion)

  /** Admission control. A fresh stream first resolves its BOOTSTRAP
    * version (clamped to the oldest retained one — a vacuumed table
    * must not send it chasing version 0; `maxVersionsPerTrigger`
    * counts the bootstrap as its version span, as before), then
    * drains that version's files `maxFilesPerTrigger` at a time
    * through the boot cursor; only once the cursor completes do
    * version diffs admit, `maxVersionsPerTrigger` per batch. */
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val cur = availableNowCap.getOrElse(currentVersion)
    GraftVersionOffset.parse(start.json()) match {
      case GraftVersionOffset(v, Some(k)) =>
        // mid-bootstrap: finish draining v before any diff admits
        bootStep(v, k)
      case GraftVersionOffset(v, None) if v < 0L =>
        val bootV = maxVersionsPerTrigger match {
          case Some(m) => math.min(cur, math.max(oldestRetained, m - 1))
          case None    => cur
        }
        if (bootV < 0L) start // nothing committed yet — no batch
        else bootStep(bootV, 0L)
      case GraftVersionOffset(v, None) =>
        maxVersionsPerTrigger match {
          case Some(m) => GraftVersionOffset(math.min(cur, v + m))
          case None    => GraftVersionOffset(cur)
        }
    }
  }

  /** Advance the bootstrap cursor of `v` from file index `k`: a
    * complete drain is the bare version offset (also the shape every
    * pre-cursor checkpoint carries), a partial one keeps the cursor. */
  private def bootStep(v: Long, k: Long): GraftVersionOffset = {
    val total = bootstrapFiles(v).size.toLong
    val step = maxFilesPerTrigger.getOrElse(total)
    val next = math.min(total, k + math.max(1L, step))
    if (next < total) GraftVersionOffset(v, Some(next))
    else GraftVersionOffset(v)
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset.parse(json)

  /** The (from, to] diff, column order pinned to the feed schema —
    * catch-up batches only; the bootstrap never comes through here. */
  private def batchDf(from: Long, to: Long): DataFrame =
    graft.sinks.ManifestTable.changesBetween(spark, root, from, to, keyCols)
      .select(feedSchema.fieldNames.map(col).toIndexedSeq: _*)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = GraftVersionOffset.parse(start.json())
    val e = GraftVersionOffset.parse(end.json())
    (s, e) match {
      case (GraftVersionOffset(sv, sb), GraftVersionOffset(ev, Some(k2))) =>
        // a partial-bootstrap step: (sv either -1 or == ev mid-drain)
        planBootstrapSlice(ev, if (sv < 0L) 0L else sb.getOrElse(0L), k2)
      case (GraftVersionOffset(sv, Some(k)), GraftVersionOffset(ev, None)) =>
        require(ev == sv, s"bootstrap of v$sv cannot complete at v$ev — " +
          "offsets advanced past an unfinished bootstrap")
        planBootstrapSlice(sv, k, bootstrapFiles(sv).size.toLong)
      case (GraftVersionOffset(sv, None), GraftVersionOffset(ev, None))
          if sv < 0L =>
        // whole-version bootstrap in one batch (no file admission set)
        planBootstrapSlice(ev, 0L, bootstrapFiles(ev).size.toLong)
      case (GraftVersionOffset(sv, None), GraftVersionOffset(ev, None)) =>
        if (ev <= sv) Array.empty
        else if (appendMode) planAppended(sv, ev)
        else planDiff(sv, ev)
    }
  }

  /** Serve files [fromIdx, toIdx) of version `v` directly as 'I' rows
    * — the snapshot's own immutable parquet through the delegated
    * vectorized reader, constants appended per row, ZERO copies and
    * no scratch directory. The slice plans through
    * [[GraftManifestFileIndex]] (no filesystem calls). */
  private def planBootstrapSlice(v: Long, fromIdx: Long,
                                 toIdx: Long): Array[InputPartition] = {
    val slice = bootstrapFiles(v).slice(fromIdx.toInt, toIdx.toInt)
    if (slice.isEmpty) return Array.empty
    // the change feed stamps 'I'/seq constants per row; the
    // append-only mode serves the rows VERBATIM
    def wrap(p: InputPartition,
             factory: PartitionReaderFactory): InputPartition =
      if (appendMode) GraftDelegatingPartition(p, factory)
      else GraftBootstrapPartition(p, factory, v)
    // a DV-bearing file cannot serve its raw parquet as 'I' rows (the
    // vector's rows would resurrect) — its SURVIVORS materialize once
    // under the checkpoint scratch and serve from there; clean files
    // (the overwhelming majority) stay zero-copy. Cost ∝ the DV'd
    // subset of the slice, swept at offset commit like a diff batch.
    val (dvd, clean) = slice.partition(_._3.isDefined)
    val cleanParts: Array[InputPartition] =
      if (clean.isEmpty) Array.empty
      else {
        val pairs = clean.map(f => (f._1, f._2))
        // data files carry PHYSICAL column names (RENAME COLUMN's
        // name mapping); rows are positional, so reading the feed
        // columns under their OWN frozen physical names — the feed
        // schema's field metadata, stable across renames — serves the
        // logical columns unchanged. Never look fields up in version
        // v's sidecar BY LOGICAL NAME: after a rename that lookup
        // misses (NULLs for a column v physically carries), and after
        // a drop + re-add it finds the DROPPED column's stale bytes —
        // the exact resurrection the mapping exists to prevent.
        // Fields whose physical name v's files lack read NULL.
        val readSchema = graft.sinks.ManifestTable.toPhysical(dataSchema)
        val index = new GraftManifestFileIndex(spark, root, pairs,
          graft.sinks.ManifestTable.recordAt(spark, root, v).tsMs,
          readSchema, None)
        val batch = ParquetScanBuilder(spark, index, readSchema, readSchema,
          CaseInsensitiveStringMap.empty()).build().toBatch
        val factory = batch.createReaderFactory()
        batch.planInputPartitions().map(p =>
          wrap(p, factory): InputPartition)
      }
    val dvParts: Array[InputPartition] =
      if (dvd.isEmpty) Array.empty
      else {
        val dir = s"$checkpointLocation/graft-feed/boot-$v-$fromIdx-$toIdx"
        val dirPath = new Path(dir)
        val f = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(new Path(dirPath, "_SUCCESS"))) {
          if (f.exists(dirPath)) f.delete(dirPath, true): Unit
          graft.sinks.ManifestTable.readFilesDv(spark, dataSchema,
            dvd.map(x => (x._1, x._2, x._3)), dvd.map(_._4).sum)
            .write.parquet(dir)
        }
        val index = new InMemoryFileIndex(spark, Seq(dirPath),
          Map.empty, Some(dataSchema))
        val batch = ParquetScanBuilder(spark, index, dataSchema, dataSchema,
          CaseInsensitiveStringMap.empty()).build().toBatch
        val factory = batch.createReaderFactory()
        batch.planInputPartitions().map(p =>
          wrap(p, factory): InputPartition)
      }
    cleanParts ++ dvParts
  }

  /** The read-schema compatibility gate both catch-up paths share —
    * see [[checkReadCompatible]]. Leaf types compare by frozen
    * PHYSICAL name with nullability (and field metadata) stripped
    * RECURSIVELY — an element-struct nullability relax inside an
    * array/map must not read as a type change (it would wedge the
    * stream permanently: the restart re-pins and fails on the same
    * old versions). Renames, column/member adds and drops pass
    * through as the additive evolutions they are. */
  private def stripNull(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name, stripNull(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(
        stripNull(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(
        stripNull(m.keyType), stripNull(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private def leafTypes(s: StructType, prefix: Seq[String] = Nil)
      : Map[Seq[String], org.apache.spark.sql.types.DataType] =
    s.fields.flatMap { f =>
      f.dataType match {
        case st: StructType => leafTypes(st, prefix :+ f.name)
        case other => Map((prefix :+ f.name) -> stripNull(other))
      }
    }.toMap

  private lazy val pinnedLeaves =
    leafTypes(graft.sinks.ManifestTable.toPhysical(dataSchema))

  /** A version that changed a streamed column's TYPE (a widen) is a
    * read-schema-incompatible evolution: rows from it (appended files
    * in append mode, the materialized diff in change-feed mode) carry
    * the wider physical type while this stream's read schema stays
    * pinned at bootstrap — serving them would fail mid-batch with a
    * raw parquet/scan conversion error. Fail fast HERE, naming the
    * version and asking for a restart: a restart re-infers the
    * table's HEAD schema (adoption is automatic — no Delta
    * schemaTrackingLocation sidecar needed) and REPLAYS the narrower
    * history under it via the vectorized reader's lossless upcast, so
    * only a version whose files carry a type the pinned schema cannot
    * hold fails. */
  private def checkReadCompatible(v: Long): Unit = {
    val vLeaves = leafTypes(graft.sinks.ManifestTable.toPhysical(
      graft.sinks.ManifestTable.tableSchema(spark, root, v)))
    val changed = pinnedLeaves.keySet.intersect(vLeaves.keySet)
      .filter { p =>
        pinnedLeaves(p) != vLeaves(p) &&
          !graft.sinks.ManifestTable.widenable(vLeaves(p),
            pinnedLeaves(p))
      }
    if (changed.nonEmpty) throw new IllegalStateException(
      s"schema changed at version $v of $root: column type(s) " +
        changed.toSeq.sortBy(_.mkString(".")).map(p =>
          s"${p.mkString(".")} (${pinnedLeaves(p).simpleString} -> " +
            s"${vLeaves(p).simpleString})").mkString(", ") +
        " no longer read under this stream's bootstrap schema — " +
        "restart the stream to pick up the evolved schema")
  }

  private def planDiff(from: Long, to: Long): Array[InputPartition] = {
    // the same widen fail-fast the append path runs (the diff
    // materializes under the checkpoint scratch and reads back under
    // the PINNED feed schema — a mid-stream widen would otherwise
    // surface as a raw parquet conversion error there); a restart
    // re-infers the head schema and the set-operation type widening
    // inside the diff serves the narrow history upcast
    (from + 1L to to).foreach(checkReadCompatible)
    // materialize the delta under the stream's checkpoint scratch —
    // ONCE per range: Spark may re-plan the same batch (retries,
    // restarts) while earlier-planned tasks still hold the files, so
    // a completed materialization is REUSED, never rewritten (sound:
    // versions are immutable, the diff is deterministic); a torn one
    // (no _SUCCESS) is replaced
    val dir = s"$checkpointLocation/graft-feed/batch-$from-$to"
    val dirPath = new Path(dir)
    val f = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(new Path(dirPath, "_SUCCESS"))) {
      // the diff reads `from`'s state: a stream whose checkpoint names
      // a vacuumed version must say so, not fail on a missing file
      require(retainedVersions.contains(from),
        s"change-feed stream lagged past retention: version $from of " +
          s"$root was vacuumed — restart with a fresh checkpoint to " +
          "re-bootstrap" + graft.sinks.ManifestTable.CrashedSweepHint)
      if (f.exists(dirPath)) f.delete(dirPath, true): Unit
      batchDf(from, to).write.parquet(dir)
    }
    val index = new InMemoryFileIndex(spark, Seq(new Path(dir)),
      Map.empty, Some(feedSchema))
    val batch = ParquetScanBuilder(spark, index, feedSchema, feedSchema,
      CaseInsensitiveStringMap.empty()).build().toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().map(p =>
      GraftDelegatingPartition(p, factory): InputPartition)
  }

  /** APPEND-ONLY catch-up: serve the files each version in (from, to]
    * ADDED, verbatim and zero-copy — no diff job, no scratch. Every
    * version is CLASSIFIED first (one manifest read per version,
    * bounded by `maxVersionsPerTrigger`): a commit that removed a
    * file, changed a deletion vector, or touched the equality-delete
    * registry is NOT an append — its rows changed, and serving its
    * added files would duplicate or lose rows — so the stream fails
    * fast naming the version (`skipChangeCommits = true` skips such
    * commits instead, the Delta escape hatch). Metadata-only commits
    * (evolution, constraints, ANALYZE, renames) add nothing and pass
    * through silently. Files added by a pure append are clean by
    * construction (vectors and key files only ride change commits). */
  private def planAppended(from: Long, to: Long): Array[InputPartition] = {
    def state(v: Long): Map[String, (Long, Option[String])] =
      graft.sinks.ManifestTable.rawFiles(spark, root, v)
        .map(f => f._1 -> ((f._2, f._3))).toMap
    // widen fail-fast per classified version (shared with the diff
    // path — [[checkReadCompatible]]); skipChangeCommits does NOT
    // skip schema changes: every later file carries the new type
    var prev = state(from)
    var prevEq = graft.sinks.ManifestTable.metaAt(spark, root, from).eq
    val added = Seq.newBuilder[(String, Long)]
    (from + 1L to to).foreach { v =>
      checkReadCompatible(v)
      val cur = state(v)
      val curEq = graft.sinks.ManifestTable.metaAt(spark, root, v).eq
      val removed = prev.keySet.diff(cur.keySet)
      val dvChanged = cur.exists { case (p, (_, dv)) =>
        prev.get(p).exists(_._2 != dv) }
      // an ADDED file can itself carry a vector (a branch publish
      // adopts the branch's net append+delete by reference) — serving
      // its raw parquet would resurrect the vector's deleted rows
      val addedWithDv = cur.exists { case (p, (_, dv)) =>
        !prev.contains(p) && dv.isDefined }
      if (removed.nonEmpty || dvChanged || addedWithDv ||
          curEq != prevEq) {
        if (!skipChangeCommits) throw new IllegalStateException(
          s"append-only stream of $root hit a NON-APPEND commit at " +
            s"version $v (rows were removed or changed: a row-level " +
            "op, keyed upsert, or compaction). Streams that need " +
            "update/delete semantics take the change feed " +
            "(option(\"keyCols\", ...)); to ignore such commits and " +
            "stream only the appends, set " +
            "option(\"skipChangeCommits\", \"true\")")
      } else added ++= cur.collect {
        case (p, (size, _)) if !prev.contains(p) => (p, size) }
      prev = cur
      prevEq = curEq
    }
    val files = added.result()
    if (files.isEmpty) return Array.empty
    val readSchema = graft.sinks.ManifestTable.toPhysical(dataSchema)
    val ts = graft.sinks.ManifestTable.recordAt(spark, root, to).tsMs
    val index = new GraftManifestFileIndex(spark, root, files, ts,
      readSchema, None)
    val batch = ParquetScanBuilder(spark, index, readSchema, readSchema,
      CaseInsensitiveStringMap.empty()).build().toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().map(p =>
      GraftDelegatingPartition(p, factory): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftDelegatingReaderFactory

  /** Materialized deltas at or below the committed offset can never
    * be re-planned (Spark does not replay committed batches), so they
    * are garbage — without this sweep a long-running stream's
    * checkpoint scratch would grow one directory per micro-batch
    * forever. */
  override def commit(end: Offset): Unit = {
    val endOff = GraftVersionOffset.parse(end.json())
    val committed = endOff.version
    val feedDir = new Path(s"$checkpointLocation/graft-feed")
    try {
      val fs = feedDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(feedDir)) {
        val Name = """batch-(-?\d+)-(-?\d+)""".r
        val Boot = """boot-(-?\d+)-(\d+)-(\d+)""".r
        fs.listStatus(feedDir).filter(_.isDirectory).foreach { d =>
          d.getPath.getName match {
            case Name(_, to) if to.toLong <= committed =>
              fs.delete(d.getPath, true): Unit
            // a bootstrap slice's scratch is dead once the boot cursor
            // passed its end (or the whole bootstrap/version did)
            case Boot(v, _, to) if v.toLong < committed ||
                (v.toLong == committed &&
                  endOff.boot.forall(_ >= to.toLong)) =>
              fs.delete(d.getPath, true): Unit
            case _ => ()
          }
        }
      }
    } catch {
      // best-effort GC — but say so, or a filling checkpoint volume
      // has nothing to debug from
      case e: Exception =>
        logWarning(s"graft change feed: checkpoint-scratch sweep under " +
          s"$feedDir failed (will retry at the next commit)", e)
    }
  }

  override def stop(): Unit = ()
}
