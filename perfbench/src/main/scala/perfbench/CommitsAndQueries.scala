package perfbench

import graft.sinks.{ManifestTable, MaterializedView, TableGroup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Writes beside reads: a seeded commit round on the manifest table
  * format over the events fact and a user dimension, then the read-only
  * queries of [[QueryMix]]. The round appends, merges at the
  * equality-delete grain, folds a CDC batch, compacts the pending
  * equality deletes, deletes a key range merge-on-read, publishes a
  * paired fact + dimension branch write through one table-group commit,
  * refreshes the fact-join-dimension view, reads the aggregate back and
  * vacuums.
  *
  * `inputs` holds the op log written by `run.py`: `dim.parquet`,
  * `oplog.json` (the delete range) and `ops/<batch>.parquet`; and the
  * query order, `queries.txt`.
  */
final class CommitsAndQueries(work: String, inputs: String, sfDir: String)
    extends Workload {
  private val Key = Seq("event_id")
  private val ViewSql = "SELECT segment, count(*) AS n, sum(value) AS total " +
    "FROM __BASE__ f JOIN __DIM_users__ u ON f.user_id = u.user_id GROUP BY segment"
  private val root = s"$work/tc"
  private val (fact, dim, mv, grp) = (s"$root/fact", s"$root/dim", s"$root/mv", s"$root/grp")
  private val queries = new QueryMix(work, inputs, sfDir)

  private lazy val deleteRange: (Long, Long) = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(inputs, "oplog.json")), "UTF-8")
    def field(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(txt).get.group(1).toLong
    (field("delete_lo"), field("delete_hi"))
  }

  private def batch(spark: SparkSession, name: String) =
    spark.read.parquet(s"$inputs/ops/$name.parquet")

  def prepare(spark: SparkSession): Unit = {
    val events = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ManifestTable.create(events, fact, Seq("event_id", "user_id"))
    ManifestTable.create(spark.read.parquet(s"$inputs/dim.parquet"), dim, Seq("user_id"))
    MaterializedView.create(spark, mv, fact, ViewSql, Seq("segment"),
      dims = Seq(MaterializedView.JoinDim("users", dim, Seq("user_id"), Seq("user_id"))))
    TableGroup.create(spark, grp, Map("fact" -> fact, "dims" -> dim))
  }

  def run(spark: SparkSession, ops: Ops): Unit = {
    ops("write", "commit")(ManifestTable.write(batch(spark, "append"), fact))
    ops("merge_eq", "commit")(ManifestTable.mergeEq(batch(spark, "merge"), fact, Key))
    ops("apply_cdc_eq", "commit")(ManifestTable.applyCdcEq(batch(spark, "cdc"), fact, Key))
    // branching needs the pending equality deletes settled
    ops("compact_eq", "commit")(ManifestTable.compactEq(spark, fact))
    val (lo, hi) = deleteRange
    ops("delete_mor", "commit")(
      ManifestTable.deleteWhereMor(spark, fact, col("event_id").between(lo, hi)))
    val b = "load"
    ops("branch_write", "commit") {
      ManifestTable.createBranch(spark, fact, b)
      ManifestTable.createBranch(spark, dim, b)
      ManifestTable.write(batch(spark, "branch_fact"), ManifestTable.branchRoot(fact, b))
      ManifestTable.merge(batch(spark, "branch_dim"), ManifestTable.branchRoot(dim, b),
        Seq("user_id"))
    }
    ops("publish", "commit") {
      TableGroup.publishBranches(spark, grp, b)
      ManifestTable.dropRef(spark, fact, b)
      ManifestTable.dropRef(spark, dim, b)
    }
    ops("mv_refresh", "commit")(MaterializedView.refresh(spark, mv))
    ops("read", "read") {
      ManifestTable.read(spark, fact).join(ManifestTable.read(spark, dim), "user_id")
        .groupBy(col("segment")).agg(count(lit(1)), sum(col("value"))).collect()
    }
    ops("vacuum", "maintenance") {
      Seq(fact, dim, mv).foreach(ManifestTable.vacuum(spark, _, keep = 2, ttlMs = 0L))
    }
    queries.run(spark, ops)
  }

  private def files(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists()) Nil
    else org.apache.commons.io.FileUtils.listFiles(f, null, true).asScala.toSeq
  }

  private def isData(f: java.io.File) =
    f.getPath.contains("/data/") && !f.getName.endsWith(".crc")

  def layers(spark: SparkSession): Map[String, Double] = {
    val all = files(fact)
    Map("mt.files_live" ->
        ManifestTable.filesAt(spark, fact, ManifestTable.latestVersion(spark, fact)).size.toDouble,
      "mt.files_on_disk" -> all.count(isData).toDouble,
      "mt.metadata_bytes" -> all.filterNot(isData).map(_.length).sum.toDouble)
  }

  /** The final fact, dimension and view, each dumped as one parquet
    * file for the replay check; with the bytes the tables hold on disk. */
  def outputs(spark: SparkSession): Map[String, Any] = {
    val check = s"$work/check"
    Seq("fact" -> fact, "dim" -> dim, "mv" -> mv).foreach { case (n, t) =>
      ManifestTable.read(spark, t).coalesce(1).write.mode("overwrite").parquet(s"$check/$n")
    }
    queries.outputs ++ Map("check_dir" -> check,
      "stored_bytes" -> files(root).map(_.length).sum,
      "user_bytes" -> files(check).filter(_.getName.startsWith("part-"))
        .filterNot(_.getName.endsWith(".crc")).map(_.length).sum)
  }
}
