package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.graft.GraftSqlShims

/** Catalog-declared table maintenance — the auto-OPTIMIZE ergonomics:
  * a table CREATEd (or ALTERed) with maintenance policy as plain
  * table properties can be maintained from its NAME alone, so an
  * operations tick needs no per-table code:
  *
  * {{{
  *   CREATE TABLE graft.db.events (...) TBLPROPERTIES (
  *     'statsCols'  = 'ts,user_id',
  *     'clusterBy'  = 'ts',          -- incremental re-cluster columns
  *     'bloomIndex' = 'user_id')     -- per-file bloom maintenance
  *
  *   GraftMaintenance.maintain(spark, "graft.db.events")
  * }}}
  *
  * `maintain` resolves the catalog INSTANCE the session already
  * initialized (so it sees exactly the descriptors SQL sees), reads
  * the declared policy, and runs:
  *
  *   - [[graft.sinks.ManifestTable.optimizeIncremental]] with the
  *     `clusterBy` columns — metadata-only selection, cost ∝ the
  *     degraded subset, None (skip) when the layout is already
  *     restored (the no-op proof a scheduled tick relies on);
  *   - [[graft.sinks.ManifestTable.buildBloom]] for each `bloomIndex`
  *     column — incremental by construction (only unindexed files),
  *     None when every live file is indexed. Each build that fills
  *     bits is its own manifest version, and `keepVersions` counts it:
  *     with `keepVersions` = 2, a tick that re-clusters and then builds
  *     one column keeps just those two versions, not the pre-tick one.
  *
  * Returns (optimize result, bloom results) — all None means the tick
  * found nothing to do. Manifest-format tables only: epoch tables'
  * re-lay is a legitimate full-cost operation a tick must not run
  * blindly. */
object GraftMaintenance {

  /** Parse `catalog.ns….table`, resolve the descriptor, run the
    * declared maintenance. */
  def maintain(spark: SparkSession,
               tableName: String): (Option[Long], Seq[Option[Long]]) = {
    val parts = tableName.split('.')
    require(parts.length >= 2,
      s"table name must be catalog.namespace….table, got $tableName")
    val catalog = GraftSqlShims.catalogManager(spark).catalog(parts.head)
    require(catalog.isInstanceOf[GraftCatalog],
      s"${parts.head} is not a graft catalog")
    val ident = Identifier.of(parts.tail.init, parts.last)
    val props = catalog.asInstanceOf[GraftCatalog].tableDef(ident)
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    val loc = props.getProperty("location")
    require(graft.sinks.ManifestTable.exists(spark, loc),
      s"$tableName is not a manifest-format table — declared " +
        "maintenance runs on the file-granular format only")
    def cols(p: String): Seq[String] = Option(props.getProperty(p))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // pending equality deletes (streaming keyed ingest batches)
    // compact FIRST: one commit materializes them as deletion vectors,
    // so reads stop paying per-version resolution and the optimize
    // pass below sees honest per-file dv counts
    graft.sinks.ManifestTable.compactEq(spark, loc): Unit
    val clusterBy = cols("clusterBy")
    // optional tuning knobs ride as properties too, so the tick needs
    // no per-table configuration code
    def num(p: String, d: Long) =
      Option(props.getProperty(p)).map(_.trim.toLong).getOrElse(d)
    val optimized =
      if (clusterBy.isEmpty) None
      else graft.sinks.ManifestTable.optimizeIncremental(
        spark, loc, sortCols = clusterBy,
        smallFileBytes = num("smallFileBytes", 32L << 20),
        targetFileBytes = num("targetFileBytes", 128L << 20),
        wideFactor = Option(props.getProperty("wideFactor"))
          .map(_.trim.toDouble).getOrElse(4.0),
        // 'clusterCurve' = 'hilbert' re-lays the degraded subset on
        // the shared N-dim curve instead of a single-order sort
        hilbert = Option(props.getProperty("clusterCurve"))
          .exists(_.trim.equalsIgnoreCase("hilbert")))
    val blooms = cols("bloomIndex").map(c =>
      graft.sinks.ManifestTable.buildBloom(spark, loc, c))
    // declared RETENTION: 'keepVersions' = N runs the refcount-aware
    // vacuum as part of the tick, so history is bounded by policy, not
    // by someone remembering to CALL vacuum_table. The staging TTL
    // keeps a concurrent writer's landed-but-uncommitted files safe.
    Option(props.getProperty("keepVersions")).map(_.trim.toInt)
      .foreach { keep =>
        require(keep >= 1, s"keepVersions must be >= 1, got $keep")
        graft.sinks.ManifestTable.vacuum(spark, loc, keep)
      }
    (optimized, blooms)
  }
}
