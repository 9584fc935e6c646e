package graft.sinks

import com.fasterxml.jackson.databind.node.NullNode
import org.scalatest.funsuite.AnyFunSuite

/** The epoch-log protocol every manifest table commits through
  * ([[VersionedTable]], private to this package): claim CAS, racing
  * writers, vacuum and its version checkpoint, commit timestamps and the
  * stream replay marker. Shares the suite's one session. */
class EpochLogSpec extends AnyFunSuite {
  import graft.TestSpark._
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/t"

  private def write(df: org.apache.spark.sql.DataFrame, root: String): Long =
    VersionedTable.writeKeyed(df, root, NullNode.instance)._1

  private def readVersion(root: String, v: Long) =
    spark.read.parquet(VersionedTable.record(spark, root, v).key.dir)

  private def read(root: String) =
    readVersion(root, VersionedTable.latestVersion(spark, root))

  test("versioned table: epoch flips are atomic commits; as-of reads and vacuum") {
    val root = tmp("graft-vt")
    val clock = new graft.util.LogicalClock(1000L)
    val prev = ManifestTable.commitClock
    ManifestTable.commitClock = clock
    try {
      assert(VersionedTable.latestVersion(spark, root) == -1L)
      val v0 = write(Seq((1L, "a")).toDF("k", "v"), root)
      clock.advance(500L)
      val v1 = write(Seq((1L, "b"), (2L, "c")).toDF("k", "v"), root)
      assert((v0, v1) == ((0L, 1L)))
      assert(read(root).count() == 2)
      // as-of: the old epoch is immutable and still readable
      assert(readVersion(root, 0).count() == 1)
      clock.advance(500L)
      val v2 = write(Seq((9L, "z")).toDF("k", "v"), root)
      assert(VersionedTable.versions(spark, root) == Seq(0L, 1L, 2L))
      // every epoch is stamped at commit
      assert(VersionedTable.commitTimestamps(spark, root) ==
        Seq(0L -> 1000L, 1L -> 1500L, 2L -> 2000L))
      VersionedTable.vacuum(spark, root, keep = 2)
      assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
      assert(read(root).collect().map(_.getLong(0)).toSeq == Seq(9L))
      assert(v2 == 2L)
    } finally ManifestTable.commitClock = prev
  }

  test("versioned table: racing blind writers all commit durable distinct epochs, pointer converges") {
    val root = tmp("graft-vtr")
    write(Seq((0L, "base")).toDF("k", "v"), root)
    // 4 writers race the CAS commit from a shared start line
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futs = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          write(Seq((i.toLong, s"w$i")).toDF("k", "v"), root)
        }
      })
    }
    gate.countDown()
    val got = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).sorted
    pool.shutdown()
    // no lost epoch: every writer claimed its own consecutive version
    assert(got == Seq(1L, 2L, 3L, 4L), s"claimed versions: $got")
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L, 2L, 3L, 4L))
    // pointer converges: resolution sees the newest committed epoch even
    // if the slowest writer's pointer bump landed out of order
    assert(VersionedTable.latestVersion(spark, root) == 4L)
    // every epoch is durable and readable with its writer's payload
    val payloads = (1L to 4L).map(v => readVersion(root, v)
      .as[(Long, String)].collect().head._2).toSet
    assert(payloads == Set("w1", "w2", "w3", "w4"))
    // no staging debris survives a successful commit race
    val stages = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(".stage-"))
    assert(stages.isEmpty, s"orphaned staging dirs: ${stages.map(_.getName).toSeq}")
  }

  test("versioned table replay marker: a stamped commit sets it, a carrying commit keeps it, a lost claim commits nothing, a blind write resets it") {
    val root = tmp("graft-vtwb")
    def stamp(df: org.apache.spark.sql.DataFrame, base: Long, batch: Long) =
      VersionedTable.tryCommitAs(df, root, base, NullNode.instance, batch)
    assert(VersionedTable.lastAppliedBatch(spark, root) == -1L)
    write(Seq((1L, "a")).toDF("k", "v"), root)
    assert(VersionedTable.lastAppliedBatch(spark, root) == -1L)
    assert(stamp(Seq((2L, "b")).toDF("k", "v"), 0L, 0L).map(_._1)
      .contains(1L))
    assert(VersionedTable.lastAppliedBatch(spark, root) == 0L)
    // a maintenance commit between micro-batches carries the base's
    // marker, so a redelivered batch is still recognized
    assert(stamp(Seq((3L, "c")).toDF("k", "v"), 1L,
      VersionedTable.record(spark, root, 1L).batch).nonEmpty)
    assert(VersionedTable.lastAppliedBatch(spark, root) == 0L)
    // a commit computed against a stale base loses the CAS: nothing
    // commits and its stage is swept
    assert(stamp(Seq((9L, "z")).toDF("k", "v"), 1L, 1L).isEmpty)
    assert(VersionedTable.versions(spark, root) == Seq(0L, 1L, 2L))
    assert(read(root).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    assert(!new java.io.File(root).list().exists(_.startsWith(".stage-")))
    // a blind write (a batch rebuild) clears the marker: the stream
    // restarts its id sequence against fresh state
    write(Seq((4L, "d")).toDF("k", "v"), root)
    assert(VersionedTable.lastAppliedBatch(spark, root) == -1L)
  }

  test("claim verification: a degenerate-rename loser is detected by the epoch's claim marker and its garbage swept") {
    // the local filesystem's no-overwrite rename is CHECK-then-act and
    // RawLocalFileSystem degrades a rename onto an existing directory
    // to copy-INTO — in the race window a loser's stage can land as a
    // hidden subdirectory inside the winner's published epoch while
    // the rename reports success. Ownership is therefore decided by
    // the claim in the epoch's commit record, not the rename's return.
    val root = tmp("graft-vt-claim")
    write(Seq((1L, "a")).toDF("k", "v"), root)
    val epoch = new java.io.File(s"$root/epoch=0")
    assert(epoch.isDirectory)
    // simulate the fallback's outcome: the loser's stage — its own
    // record included — copied inside the winner's epoch
    val loserName = ".stage-loser-1234"
    val garbage = new java.io.File(epoch, loserName)
    assert(garbage.mkdir())
    val w = new java.io.FileWriter(new java.io.File(garbage, "_graft_commit.json"))
    w.write(s"""{"claim":"$loserName","ts":0,"batch":-1,"meta":null}""")
    w.close()
    val claim = VersionedTable.verifyClaim(spark, root, 0, loserName)
    assert(claim == VersionedTable.LostConsumed,
      s"the loser must detect the foreign record, got $claim")
    assert(!garbage.exists(), "the loser must sweep its copied-in stage")
    // the true owner (whose name the epoch's record carries) verifies Won
    val owner = VersionedTable.record(spark, root, 0).key.claim
    assert(owner.startsWith(".stage-"))
    assert(VersionedTable.verifyClaim(spark, root, 0, owner) ==
      VersionedTable.Won)
    // the epoch stays perfectly readable throughout
    assert(read(root).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("version-list checkpointing: after a vacuum, versions() and latestVersion never LIST the directory — pointer + contiguity probe bound them at 100k-commit scale") {
    import graft.CountingFs
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vckpt").toString
    val root = s"$dir/t"
    write(Seq((1L, "a")).toDF("k", "v"), root): Unit
    write(Seq((2L, "b")).toDF("k", "v"), root): Unit
    write(Seq((3L, "c")).toDF("k", "v"), root): Unit
    // the vacuum (the only remover) installs the checkpoint
    VersionedTable.vacuum(spark, root, keep = 2, stageTtlMs = 0L)
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L))
    // simulate 118 further commits: every commit is prior-latest + 1
    // by the CAS, so bare contiguous epoch dirs stand in for them
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    (3L to 120L).foreach(v => f.mkdirs(
      new org.apache.hadoop.fs.Path(root, s"epoch=$v")): Unit)
    // reach the same on-disk table through the counting scheme
    spark.sparkContext.hadoopConfiguration
      .set("fs.counting.impl", classOf[CountingFs].getName)
    val cRoot = s"counting://$root"
    CountingFs.listCalls.set(0L)
    val vs = VersionedTable.versions(spark, cRoot)
    assert(vs == (1L to 120L),
      s"checkpoint ∪ contiguous probe must serve the live set: $vs")
    assert(CountingFs.listCalls.get() == 0L,
      s"versions() after a vacuum must not list the directory " +
        s"(probes existence instead), got ${CountingFs.listCalls.get()} " +
        "list calls")
    CountingFs.listCalls.set(0L)
    assert(VersionedTable.latestVersion(spark, cRoot) == 120L)
    assert(CountingFs.listCalls.get() == 0L,
      "latestVersion rides the same bounded path")
    // a NEVER-vacuumed table has no checkpoint and keeps the exact
    // listing (the conservative fallback)
    val root2 = s"$dir/u"
    write(Seq((1L, "a")).toDF("k", "v"), root2): Unit
    CountingFs.listCalls.set(0L)
    assert(VersionedTable.versions(spark, s"counting://$root2") ==
      Seq(0L))
    assert(CountingFs.listCalls.get() > 0L,
      "no checkpoint — the exact listing is the authority")
    // the vacuumed version is GONE from the checkpoint view — the
    // retention fail-fast contract stays conservative
    assert(!VersionedTable.versions(spark, root).contains(0L))
  }
}

/** Test access to the manifest log for specs outside this package. */
object ManifestLogProbe {
  /** Commit `entries` as `root`'s next manifest version, carrying the
    * current version's table metadata — a manifest whose entries a
    * test crafted (e.g. stats a footer writer omitted). */
  def commitEntries(spark: org.apache.spark.sql.SparkSession, root: String,
                    entries: org.apache.spark.sql.DataFrame): Unit = {
    val log = ManifestTable.manifestsRoot(root)
    VersionedTable.writeKeyed(entries, log, VersionedTable.record(spark, log,
      ManifestTable.latestVersion(spark, root)).meta): Unit
  }
}
