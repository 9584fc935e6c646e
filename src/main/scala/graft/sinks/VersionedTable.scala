package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.NullNode
import graft.util.EpochCache

/** Identity of a committed epoch of an epoch log — the key of every
  * cache over it ([[graft.util.EpochCache]]): the epoch directory `dir`
  * and the `claim` its [[EpochCommit]] record names, the unique name of
  * the stage that became the epoch. [[VersionedTable.verifyClaim]]
  * decides ownership of a published epoch by the same claim, and a
  * root dropped and re-created at the same path keys its new epochs
  * apart. */
private[graft] final case class EpochKey(root: String, version: Long,
                                         claim: String) {
  def dir: String = s"$root/epoch=$version"
}

/** The one metadata record of an epoch:
  *   - `key`: the epoch and its claim;
  *   - `tsMs`: the commit timestamp ([[VersionedTable.versionAtTimestamp]]);
  *   - `batch`: the stream replay marker
  *     ([[VersionedTable.lastAppliedBatch]]), -1 when none — every
  *     commit carries its base's unless it stamps its own, and a blind
  *     full replace resets it;
  *   - `bytes`: the epoch's data-file byte total, taken once at stage
  *     time — the size gate of the collected-manifest cache;
  *   - `meta`: the owner's object — a manifest table's schema and
  *     registries. */
private[graft] final case class EpochCommit(key: EpochKey, tsMs: Long,
                                            batch: Long, bytes: Long,
                                            meta: JsonNode)

/** The EPOCH LOG a [[ManifestTable]] keeps its manifests in (`_manifests/`
  * under the table root) — not a table format of its own: every write
  * lands in a FRESH `epoch=N` directory, and readers resolve the
  * current epoch through a pointer file plus the committed epoch
  * listing. A reader holding an old resolution keeps reading the old
  * epoch's (immutable, fully written) files.
  *
  * MULTI-WRITER SAFE commit protocol (optimistic, lock-free): a writer
  * first lands the epoch's data in a hidden `.stage-<uuid>` directory
  * (invisible to readers and to version resolution), then CLAIMS a
  * version number by renaming the staged directory to `epoch=N`
  * WITHOUT overwrite — `FileContext.rename` with `Rename.NONE` fails
  * when the destination exists, so the rename is a compare-and-swap on
  * the version number; a loser retries with the next number. On
  * filesystems whose no-overwrite rename is only check-then-act (the
  * local one), the rename is merely the claim ATTEMPT and ownership
  * is verified through the epoch's commit record — see
  * [[claimEpoch]]. Because the rename is the publish step, an `epoch=N` directory exists ONLY
  * fully written: a crashed writer leaves at worst an orphaned
  * `.stage-*` directory that [[vacuum]] sweeps. The `_LATEST` pointer
  * is a monotone CACHE of the newest committed version — readers take
  * `max(pointer, committed directories)`, so a writer that loses the
  * (benign) pointer-update race can never hide a newer epoch.
  *
  * Blind writes ([[writeKeyed]]) always succeed — racing writers
  * serialize onto distinct consecutive versions, none lost.
  * Read-modify-write commits (the manifest swaps) are SERIALIZABLE via
  * [[tryCommitAs]]: the rewrite is computed against base version B and
  * committed only as B+1; if another writer claimed B+1 first, the
  * claim fails and the operation recomputes against the new current
  * epoch — the lost-update anomaly (two rewrites both based on B, the
  * second silently discarding the first) cannot commit. Same caveat as
  * everywhere in this package: object stores without atomic rename
  * need an external commit coordinator.
  *
  * Old epochs are retained for as-of reads until [[vacuum]] drops all
  * but the newest k.
  *
  * Each epoch's metadata is ONE file, its [[EpochCommit]] record
  * `_graft_commit.json`, staged last, right before the publishing
  * rename — so it commits atomically with the data it describes.
  */
private[sinks] object VersionedTable {

  private val Pointer = "_LATEST"
  private val RecordFile = "_graft_commit.json"

  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val NoMeta: JsonNode = NullNode.instance

  /** The commit record of a retained epoch — one file read, decoded by
    * the one decoder; a missing, unreadable or malformed record fails
    * loudly, naming the epoch. Not cached: the record names the
    * epoch's identity, so every cache over the epoch keys on what this
    * one read returns. */
  def record(spark: SparkSession, root: String, version: Long): EpochCommit = {
    def fail(why: String, cause: Throwable) = throw new IllegalStateException(
      s"epoch $version of $root has no valid commit record " +
        s"($RecordFile): $why", cause)
    val n =
      try {
        val in = fs(spark, root).open(
          new org.apache.hadoop.fs.Path(s"$root/epoch=$version", RecordFile))
        try mapper.readTree(in) finally in.close()
      } catch { case e: java.io.IOException => fail(e.toString, e) }
    if (n == null || !n.path("claim").isTextual ||
        !Seq("ts", "batch", "bytes").forall(n.path(_).isIntegralNumber))
      fail("missing claim/ts/batch/bytes", null)
    EpochCommit(EpochKey(root, version, n.get("claim").asText), n.get("ts").asLong,
      n.get("batch").asLong, n.get("bytes").asLong,
      Option(n.get("meta")).getOrElse(NoMeta))
  }

  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Newest committed version, or -1 when the log has never
    * committed. The pointer is consulted as a fast monotone cache but
    * the committed `epoch=` listing wins when newer — a writer that
    * committed its CAS rename and then crashed (or lost the pointer
    * race) before refreshing `_LATEST` still has its epoch visible. */
  def latestVersion(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val committed =
      if (!f.exists(new org.apache.hadoop.fs.Path(root))) -1L
      else versions(spark, root).lastOption.getOrElse(-1L)
    math.max(readPointer(spark, root), committed)
  }

  /** Best-effort pointer read: -1 when missing OR momentarily
    * unreadable. Concurrent pointer bumps can expose a torn read on
    * filesystems whose rename moves the data file and its integrity
    * sidecar non-atomically (local ChecksumFs renames `_LATEST` and
    * `._LATEST.crc` as two operations); the committed `epoch=` listing
    * is authoritative, so a failed cache read degrades to it instead
    * of failing the resolution. */
  private def readPointer(spark: SparkSession, root: String): Long = {
    val p = new org.apache.hadoop.fs.Path(root, Pointer)
    val f = fs(spark, root)
    try {
      if (!f.exists(p)) -1L
      else {
        val in = f.open(p)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").trim.toLong
        finally in.close()
      }
    } catch {
      case _: java.io.IOException | _: NumberFormatException => -1L
    }
  }

  /** Write `df` as the next epoch and publish it. Returns the new
    * version and the published epoch's [[EpochKey]] (a caller priming
    * its own cache entry for the epoch reuses it). The CAS rename of the
    * staged directory is the COMMIT: a crash before it leaves the log at
    * the previous version with an orphaned staging directory, never a
    * half-visible epoch. Safe under concurrent writers — each lands on
    * its own version. `meta` rides in the epoch's [[EpochCommit]]
    * record, so an owner's metadata commits atomically with the epoch
    * it describes. A blind write resets the replay marker to -1. */
  def writeKeyed(df: DataFrame, root: String,
                                meta: JsonNode): (Long, EpochKey) = {
    val spark = df.sparkSession
    var claim = stageEpoch(df, root, meta, -1L)
    var next = latestVersion(spark, root) + 1
    var won = false
    while (!won) {
      claimEpoch(spark, root, claim, next) match {
        case Won          => won = true
        case Lost         => next += 1
        case LostConsumed =>
          // the degenerate-rename loser's stage was consumed (see
          // [[claimEpoch]]) — re-stage and try the next number
          claim = stageEpoch(df, root, meta, -1L); next += 1
      }
    }
    (next, publish(spark, root, next, df.schema, claim))
  }

  /** Optimistic-concurrency commit: publish the staged rewrite ONLY as
    * `expectedBase + 1`. Returns None — with the staged data cleaned
    * up — when some other writer claimed that version first, i.e. when
    * the table moved past the base this rewrite was computed from; the
    * caller recomputes against the new current epoch and retries. This
    * is the conflict check that makes read-modify-write commits
    * serializable rather than merely durable. `batch` is the new
    * record's replay marker: the caller carries the base record's
    * (EXACTLY-ONCE carry-forward — a maintenance tick or batch merge
    * interleaved between micro-batches must not reset the marker, or a
    * crash-redelivered batch would apply twice) or stamps its own. */
  def tryCommitAs(df: DataFrame, root: String,
                                 expectedBase: Long,
                                 meta: JsonNode,
                                 batch: Long): Option[(Long, EpochKey)] = {
    val spark = df.sparkSession
    val claim = stageEpoch(df, root, meta, batch)
    val want = expectedBase + 1
    claimEpoch(spark, root, claim, want) match {
      case Won =>
        Some((want, publish(spark, root, want, df.schema, claim)))
      case Lost =>
        fs(spark, root).delete(new org.apache.hadoop.fs.Path(root, claim),
          true): Unit
        None
      case LostConsumed => None // stage already gone (see claimEpoch)
    }
  }

  /** Row bound under which a metadata-scale epoch whose rows the
    * driver ALREADY holds (LocalRelation / union-of-LocalRelations
    * plan) is staged by a direct driver-side parquet write — skipping
    * the Spark job + Hadoop commit protocol a `df.write` pays per
    * commit (~100-200 ms of scheduling for a 40-row manifest;
    * measured as the second-largest job population of the
    * table-format query family). Distributed plans and anything
    * larger stage through the ordinary Spark write unchanged. */
  private def localStageMaxRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.commit.localStageMaxRows")
      .map(_.toInt).getOrElse(65536)

  /** Land `df` and its [[EpochCommit]] record in a hidden staging directory
    * readers and [[versions]] never resolve, and return the claim: the
    * stage's own unique name, `root/<claim>`. The record is written
    * last, with the data files' byte total — the local stage's one file
    * length, or one listing after a Spark write. */
  private def stageEpoch(df: DataFrame, root: String,
                         meta: JsonNode, batch: Long): String = {
    val name = s".stage-${java.util.UUID.randomUUID().toString}"
    val dir = new org.apache.hadoop.fs.Path(root, name)
    val spark = df.sparkSession
    val f = fs(spark, root)
    val localBytes =
      try {
        LocalEpoch.localRows(df.queryExecution.optimizedPlan,
          localStageMaxRows(spark)) match {
          case Some(rows)
              // names/types must survive optimization unchanged (they
              // do for the metadata frames; anything surprising falls
              // back to the Spark write rather than guessing)
              if df.queryExecution.optimizedPlan.schema.fields
                .map(f => (f.name, f.dataType)).toSeq ==
                df.schema.fields.map(f => (f.name, f.dataType)).toSeq =>
            val file = new org.apache.hadoop.fs.Path(dir,
              s"part-00000-${java.util.UUID.randomUUID()}.parquet")
            f.mkdirs(dir): Unit
            LocalEpoch.writeParquet(spark, file,
              df.queryExecution.optimizedPlan.schema, rows)
            Some(f.getFileStatus(file).getLen)
          case _ => None
        }
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          // a torn local stage must not poison the fallback write
          try f.delete(dir, true): Unit
          catch { case _: java.io.IOException => () }
          None
      }
    val bytes = localBytes.getOrElse {
      df.write.mode("overwrite").parquet(dir.toString)
      f.listStatus(dir).map(_.getLen).sum
    }
    val rec = mapper.createObjectNode().put("claim", name)
      .put("ts", ManifestTable.commitClock.nowMs()).put("batch", batch).put("bytes", bytes)
    rec.set[JsonNode]("meta", meta)
    val out = f.create(new org.apache.hadoop.fs.Path(dir, RecordFile), true)
    try out.write(mapper.writeValueAsBytes(rec)) finally out.close()
    name
  }

  sealed trait Claim
  case object Won extends Claim
  /** Lost with the stage directory intact — retry the next number. */
  case object Lost extends Claim
  /** Lost AND the stage directory was consumed by a degenerate rename
    * (see [[claimEpoch]]) — the caller must re-stage before retrying. */
  case object LostConsumed extends Claim

  /** CAS: rename the staged directory to `epoch=$version` WITHOUT
    * overwrite. `FileContext.rename(…, Rename.NONE)` refuses an
    * existing destination, so at most one racing writer wins each
    * version number — on filesystems whose no-overwrite rename is
    * atomic. The local filesystem's is NOT: `AbstractFileSystem
    * .rename` implements Rename.NONE as a CHECK-then-rename, and
    * `RawLocalFileSystem.rename` degrades a rename onto an existing
    * directory to a COPY-INTO fallback — so in the race window where
    * both writers pass the existence check, the loser's rename can
    * "succeed" by copying its stage INSIDE the winner's published
    * epoch, and both writers would believe they claimed the version
    * (a silent lost update; observed once under a 4-writer race).
    * The rename is therefore only the CLAIM ATTEMPT; ownership is
    * decided by [[verifyClaim]] reading the published epoch's record
    * back. A detected degenerate loser deletes its copied-in
    * garbage and reports its stage consumed. */
  private def claimEpoch(spark: SparkSession, root: String, claim: String,
                         version: Long): Claim = {
    val stageDir = new org.apache.hadoop.fs.Path(root, claim)
    val dst = new org.apache.hadoop.fs.Path(root, s"epoch=$version")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dst.toUri, spark.sparkContext.hadoopConfiguration)
    try {
      fc.rename(stageDir, dst)
      verifyClaim(spark, root, version, claim)
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => Lost
      case _: java.io.IOException if fs(spark, root).exists(dst) =>
        // lost the race mid-rename; if our stage survived we can
        // retry cheaply, else the failed rename half-consumed it
        if (fs(spark, root).exists(stageDir)) Lost
        else verifyClaim(spark, root, version, claim)
    }
  }

  /** Decide ownership of a published `epoch=version` by its record's
    * claim: ours → [[Won]]; someone else's → we are the
    * degenerate-rename loser — our stage was copied INSIDE the
    * winner's epoch as a hidden subdirectory (invisible to readers,
    * but garbage), so delete it and report [[LostConsumed]]. */
  def verifyClaim(spark: SparkSession, root: String,
                                 version: Long, stageName: String): Claim = {
    val f = fs(spark, root)
    val dst = new org.apache.hadoop.fs.Path(root, s"epoch=$version")
    // an UNREADABLE record must not be mistaken for a foreign one: a
    // writer whose rename genuinely won but whose read-back hiccuped
    // would otherwise report LostConsumed and re-commit its snapshot
    // — the exact double-apply the claim exists to prevent. Retry
    // briefly, then fail LOUDLY: ownership of a published epoch must
    // never be guessed.
    var attempt = 0
    while (attempt < 5) {
      val owner =
        try Some(record(spark, root, version).key.claim)
        catch { case _: IllegalStateException => None }
      owner match {
        case Some(o) if o == stageName => return Won
        case Some(_) => // definitively someone else's epoch
          f.delete(new org.apache.hadoop.fs.Path(dst, stageName), true): Unit
          return LostConsumed
        case None =>
          attempt += 1
          if (attempt < 5) Thread.sleep(50L << attempt)
      }
    }
    sys.error(s"epoch $version of $root has no readable commit record — " +
      "cannot decide ownership of the published epoch (filesystem " +
      "anomaly); refusing to guess, since assuming a loss would " +
      "double-commit this snapshot")
  }

  /** Refresh the `_LATEST` cache, monotonically: skip when the pointer
    * already names `version` or newer. The flip itself is the ATOMIC
    * overwrite rename (FileContext + Rename.OVERWRITE): a
    * delete-then-rename pair would leave a window with no pointer file
    * at all. Two racing bumps can still land out of order — harmless,
    * because [[latestVersion]] takes max(pointer, committed listing);
    * the next successful bump re-converges the cache. */
  private def bumpPointer(spark: SparkSession, root: String, version: Long): Unit = {
    val f = fs(spark, root)
    val ptr = new org.apache.hadoop.fs.Path(root, Pointer)
    if (readPointer(spark, root) < version) {
      val tmp = new org.apache.hadoop.fs.Path(root,
        s".$Pointer.tmp-${java.util.UUID.randomUUID().toString}")
      val out = f.create(tmp, true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        ptr.toUri, spark.sparkContext.hadoopConfiguration)
      try fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          // local ChecksumFs renames the pointer and its `.crc`
          // sidecar as TWO operations, so a racing bump can land its
          // sidecar between this rename's pair and the overwrite
          // throws. The pointer is a monotonic CACHE — latestVersion
          // takes max(pointer, committed listing) — so the losing
          // bump ABSTAINS instead of failing its commit: the racer's
          // value serves, and the next successful bump re-converges.
          try f.delete(tmp, false): Unit
          catch { case _: Exception => () }
      }
    }
  }

  /** The log's stream replay marker — the id of the micro-batch that
    * produced the current epoch, carried forward by every later
    * read-modify-write commit; -1 when none (never streamed, or reset
    * by a blind write). Spark's foreachBatch RE-DELIVERS the last
    * micro-batch after a restart; without the marker a batch-stamped
    * manifest commit would apply it twice. One record read: the
    * carry-forward puts the maximum in the newest epoch. */
  def lastAppliedBatch(spark: SparkSession, root: String): Long = {
    val v = latestVersion(spark, root)
    if (v < 0) -1L else record(spark, root, v).batch
  }

  /** Publish a just-claimed epoch: bump the pointer and prime its
    * epoch-schema entry from the written frame's own schema, so even
    * the FIRST read of a new version skips the footer-inference job
    * (the cache alone only helps re-reads; every commit's read-back paid
    * one inference job per fresh epoch). File-source relations force every column nullable
    * (`DataSource` applies `asNullable`), so the primed value is the
    * all-nullable rendering of the written schema — identical to what
    * inference would return for the parquet files this very frame
    * wrote. The key comes from the claim [[verifyClaim]] just read
    * back, with no filesystem call. Returns it. */
  private def publish(spark: SparkSession, root: String, version: Long,
                      schema: org.apache.spark.sql.types.StructType,
                      claim: String): EpochKey = {
    bumpPointer(spark, root, version)
    val key = EpochKey(root, version, claim)
    EpochCache.put(EpochCache.Schemas, key, allNullable(schema))
    key
  }

  /** Every field (and nested struct/array/map element) nullable — what
    * a file-source read reports regardless of writer nullability. */
  def allNullable(
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def nt(dt: DataType): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(f =>
          f.copy(dataType = nt(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = nt(a.elementType),
        containsNull = true)
      case m: MapType => m.copy(valueType = nt(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    nt(s).asInstanceOf[StructType]
  }

  /** (version, effective commit ts) for every retained epoch, in
    * version order. Effective = RUNNING MAX of the raw stamps: racing
    * writers stamp before their CAS claim, so raw stamps can be
    * microscopically out of order vs version numbers — the running
    * max restores the invariant time travel needs (later version ⇒
    * not-earlier timestamp; Delta normalizes its log the same way).
    * An epoch without a valid record fails fast, naming it. */
  def commitTimestamps(spark: SparkSession, root: String): Seq[(Long, Long)] = {
    var running = Long.MinValue
    versions(spark, root).map { v =>
      running = math.max(running, record(spark, root, v).tsMs)
      v -> running
    }
  }

  /** Latest version whose effective commit timestamp is <= `tsMs` —
    * the `timestampAsOf` resolution ("what did the table look like at
    * time t"). Fails fast when t predates the oldest RETAINED epoch:
    * either the table didn't exist yet or the epoch that was current
    * at t has been vacuumed — answering from a newer epoch would be
    * silently wrong either way. */
  def versionAtTimestamp(spark: SparkSession, root: String,
                         tsMs: Long): Long = {
    val stamped = commitTimestamps(spark, root)
    require(stamped.nonEmpty, s"versioned table at $root has no committed epoch")
    val eligible = stamped.filter(_._2 <= tsMs)
    require(eligible.nonEmpty,
      s"no retained epoch of $root is as old as $tsMs (oldest retained: " +
        s"v${stamped.head._1} @ ${stamped.head._2}) — the epoch current " +
        "at that time was vacuumed, or the table did not exist yet" +
        ManifestTable.CrashedSweepHint)
    eligible.last._1
  }

  /** The retained-version CHECKPOINT — what bounds [[versions]] on a
    * long-lived table: `_VCKPT` records the versions retained at its
    * write time plus the version it was written AT; everything
    * committed after is CONTIGUOUS (every commit is prior-latest + 1
    * through the CAS), so the live set is `recorded ∪ (at, latest]`
    * and latest resolves by probing upward from max(pointer, at) —
    * O(commits since the last pointer bump) existence checks, never a
    * directory listing. [[vacuum]] — the ONLY remover of versions —
    * writes the checkpoint BEFORE it deletes, so a crashed vacuum
    * leaves a checkpoint that UNDER-reports (its victims, still on
    * disk, read as already-vacuumed): retention validation then fails
    * fast conservatively, never resurrects a half-deleted version.
    * Tables never vacuumed have no checkpoint and fall back to the
    * exact listing. Concurrent vacuums of one table are operator
    * error (each would re-record the other's victims). */
  private val Ckpt = "_VCKPT"

  private def writeCkpt(spark: SparkSession, root: String,
                        at: Long, kept: Seq[Long]): Unit = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(root, Ckpt)
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".$Ckpt.tmp-${java.util.UUID.randomUUID()}")
    // compact range encoding: 100k retained contiguous versions are
    // one "a-b" token, not 100k lines
    val ranges = kept.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: tail, v) if v == b + 1 => (a, v) :: tail
      case (acc, v) => (v, v) :: acc
    }.reverse.map { case (a, b) => if (a == b) s"$a" else s"$a-$b" }
    val out = f.create(tmp, true)
    try out.write(s"$at\n${ranges.mkString(",")}\n".getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      p.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def readCkpt(spark: SparkSession, root: String)
      : Option[(Long, Seq[Long])] = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(root, Ckpt)
    try {
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val lines = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
          .split('\n')
        finally in.close()
        val kept = lines(1).split(',').filter(_.nonEmpty).toSeq.flatMap {
          tok =>
            tok.split('-') match {
              case Array(a, b) => a.toLong to b.toLong
              case Array(a)    => Seq(a.toLong)
              case _ => throw new NumberFormatException(
                s"bad checkpoint range token '$tok'")
            }
        }
        Some((lines(0).toLong, kept))
      }
    } catch {
      // a torn/unreadable checkpoint degrades to the exact listing
      case _: java.io.IOException | _: NumberFormatException |
          _: ArrayIndexOutOfBoundsException => None
    }
  }

  def versions(spark: SparkSession, root: String): Seq[Long] =
    readCkpt(spark, root) match {
      case Some((at, kept)) =>
        val f = fs(spark, root)
        var v = math.max(at, readPointer(spark, root))
        while (f.exists(
            new org.apache.hadoop.fs.Path(root, s"epoch=${v + 1}")))
          v += 1
        (kept.filter(_ <= at) ++ ((at + 1) to v)).distinct.sorted
      case None => listVersions(spark, root)
    }

  /** The exact `epoch=` directory listing — the no-checkpoint
    * fallback, and [[vacuum]]'s own authoritative read (a vacuum must
    * see its predecessor's crash leftovers to finish sweeping them). */
  private def listVersions(spark: SparkSession, root: String): Seq[Long] =
    fs(spark, root).listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("epoch=") =>
        n.stripPrefix("epoch=").toLong }
      .sorted.toSeq

  /** Drop all epochs except the newest `keep` (and never the one the
    * pointer names). Also sweeps `.stage-*` directories orphaned by
    * crashed writers — but only ones older than `stageTtlMs`, so a
    * LIVE concurrent writer mid-stage (its CAS rename not yet
    * attempted) cannot have its data deleted out from under it.
    * `pinned` versions survive regardless of age — the retention
    * hook named TAGS ride ([[graft.sinks.ManifestTable.createTag]]):
    * a pinned epoch stays readable until its ref is dropped. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2,
             stageTtlMs: Long = 24L * 3600 * 1000,
             pinned: Set[Long] = Set.empty): Unit = {
    require(keep >= 1, "must keep at least one epoch")
    val cur = latestVersion(spark, root)
    val f = fs(spark, root)
    // the AUTHORITATIVE listing, not the checkpoint view: a prior
    // vacuum that crashed between its checkpoint write and its
    // deletes left victims on disk the checkpoint no longer names —
    // this pass must still see and finish them
    val live = listVersions(spark, root)
    val victims = live.dropRight(keep)
      .filter(_ != cur)
      .filterNot(pinned)
    // checkpoint FIRST, then delete: a crash mid-delete leaves the
    // checkpoint under-reporting (conservative fail-fast), never
    // naming versions that are half-gone
    writeCkpt(spark, root, cur, live.filterNot(victims.toSet))
    victims.foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(root, s"epoch=$v"), true): Unit
    }
    val now = System.currentTimeMillis()
    f.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage-"))
      .filter(s => now - s.getModificationTime > stageTtlMs)
      .foreach(s => f.delete(s.getPath, true): Unit)
  }
}
