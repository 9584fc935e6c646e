package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-record-per-epoch format: every epoch's metadata lives in its
  * `_graft_commit.json` record and nowhere else. */
class CommitRecordSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import sinks.{ManifestTable, VersionedTable}

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("CHECK constraints: a multi-line expression is added, refuses a violating append, survives an unrelated commit and restore, and reads back on a cold cache") {
    val root = tmp("graft-cons-ml") + "/t"
    ManifestTable.create(spark.range(20)
      .select(col("id").as("k"), (col("id") % 5).as("v")), root, Seq("k"))
    def latest() = ManifestTable.latestVersion(spark, root)
    val exprSql = "v >= 0\n\tAND v < 5"
    val want = Seq("v_band" -> exprSql)
    val added = ManifestTable.addConstraint(spark, root, "v_band", exprSql)
    assert(ManifestTable.constraintsAt(spark, root, added) == want)
    // a violating append is refused, naming the constraint, and
    // commits nothing
    val bad = intercept[Exception] {
      ManifestTable.write(Seq((100L, 7L)).toDF("k", "v"), root)
    }
    assert(bad.getMessage.contains("v_band"), bad.getMessage)
    assert(latest() == added, "a refused batch must commit NOTHING")
    // an unrelated commit carries it
    val appended = ManifestTable.write(Seq((100L, 1L)).toDF("k", "v"), root)
    assert(ManifestTable.constraintsAt(spark, root, appended) == want)
    // dropped, then restored with the version that carried it
    ManifestTable.dropConstraint(spark, root, "v_band")
    assert(ManifestTable.constraintsAt(spark, root, latest()).isEmpty)
    val restored = ManifestTable.restore(spark, root, appended)
    assert(ManifestTable.constraintsAt(spark, root, restored) == want)
    // cold cache: read back from the record itself, still enforced
    util.EpochCache.clear()
    assert(ManifestTable.constraintsAt(spark, root, restored) == want)
    intercept[Exception] {
      ManifestTable.write(Seq((101L, 9L)).toDF("k", "v"), root)
    }
    assert(latest() == restored)
    assert(ManifestTable.read(spark, root).count() == 21L)
  }

  test("format: every epoch of a manifest log, a bloom index and a plain epoch table holds exactly one _graft_ entry, and every field reads back equal on a cold cache") {
    val base = tmp("graft-record-format")
    val root = s"$base/t"
    ManifestTable.create(spark.range(40)
      .select(col("id").as("k"), (col("id") % 7).as("v")), root, Seq("k"))
    ManifestTable.addConstraint(spark, root, "v_pos", "v >= 0")
    ManifestTable.analyzeTable(spark, root)
    assert(ManifestTable.writeBatch(spark.range(40, 45)
      .select(col("id").as("k"), lit(1L).as("v")), root, 3L).nonEmpty)
    ManifestTable.mergeEq(Seq((1L, 6L)).toDF("k", "v"), root, Seq("k", "v"))
    assert(ManifestTable.buildBloom(spark, root, "k").nonEmpty)
    val lay = s"$base/lay"
    spark.range(10).write.parquet(lay)
    val adopted = s"$base/a"
    assert(ManifestTable.adopt(spark, lay, adopted, Seq("id")).nonEmpty)
    val plain = s"$base/p"
    VersionedTable.write(Seq((1L, "a")).toDF("k", "s"), plain)
    assert(VersionedTable.writeBatch(Seq((2L, "b")).toDF("k", "s"), plain, 0L)
      .nonEmpty)

    // the bloom build is one more manifest epoch: no side table
    assert(!new java.io.File(root).list().exists(_.contains("bloom")))
    val roots = Seq(ManifestTable.manifestsRoot(root),
      ManifestTable.manifestsRoot(adopted), plain)
    roots.foreach { r =>
      val epochs = new java.io.File(r).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      assert(epochs.nonEmpty, r)
      epochs.foreach { e =>
        assert(e.list().filter(_.startsWith("_graft_")).toSeq ==
          Seq("_graft_commit.json"), s"$e: ${e.list().toSeq}")
      }
    }

    // what the round committed, read through the warm cache
    val cur = ManifestTable.latestVersion(spark, root)
    val meta = ManifestTable.metaAt(spark, root, cur)
    assert(meta.constraints == Seq("v_pos" -> "v >= 0"))
    assert(meta.ndv.keySet == Set("k", "v"))
    assert(meta.eq.map(_.keys) == Seq(Seq("k", "v")))
    assert(ManifestTable.lastAppliedBatch(spark, root) == 3L)
    assert(ManifestTable.metaAt(spark, adopted,
      ManifestTable.latestVersion(spark, adopted)).adopted
      .contains(new org.apache.hadoop.fs.Path(lay).toUri.getPath))
    assert(ManifestTable.manifest(spark, root, cur)
      .filter(col(ManifestTable.bloomCol("k")).isNull).count() == 0L)
    assert(VersionedTable.lastAppliedBatch(spark, plain) == 0L)
    def snapshot() = roots.flatMap(r => VersionedTable.versions(spark, r)
      .map(v => (r, v) -> VersionedTable.record(spark, r, v))) ++
      Seq(root, adopted).flatMap(r => ManifestTable.versions(spark, r)
        .map(v => (r, v) -> ManifestTable.metaAt(spark, r, v)))
    val warm = snapshot()
    util.EpochCache.clear()
    assert(snapshot() == warm, "a cold read must decode what was primed")
  }
}
