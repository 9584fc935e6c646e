package graft.sources.v2

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Durable SQL catalog for graft tables — the piece that makes the
  * engine usable BY NAME from plain SQL, across sessions:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.v2.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /data/graft-warehouse
  *
  *   CREATE TABLE graft.db.events (k BIGINT, v STRING)
  *     TBLPROPERTIES ('statsCols' = 'k')           -- managed manifest table
  *   CREATE TABLE graft.db.ext USING graft LOCATION '/data/tables/ext'
  *                                                  -- adopt an existing table
  *   SELECT * FROM graft.db.events VERSION AS OF 3
  *   SELECT * FROM graft.db.events TIMESTAMP AS OF '2026-08-14 00:00:00'
  *   INSERT INTO graft.db.events VALUES ...         -- manifest append commit
  *   df.writeTo("graft.db.events").append()
  * }}}
  *
  * Catalog state is a DIRECTORY OF DESCRIPTORS under
  * `<warehouse>/_defs/<namespace…>/<table>.properties` (java
  * Properties files: location + table properties). Registration
  * therefore SURVIVES the session — the per-JVM
  * [[graft.plans.GraftTables.register]] map stays available for
  * plain-parquet directories, but manifest tables need no registration
  * at all: their pruning stats live in the manifest itself. A fresh
  * session that resolves the table by name prunes immediately
  * (spec-pinned).
  *
  * Resolution delegates to [[GraftTableProvider]] — one code path for
  * snapshot pinning, version/timestamp travel, and in-source file
  * skipping, whether the table is reached by path or by name. Writes
  * (INSERT INTO / writeTo.append / overwrite) commit through the
  * table formats' own CAS protocols via the V1 write bridge on
  * [[GraftTable]] — never a blind directory write.
  *
  * DROP TABLE removes the DESCRIPTOR only (external-style semantics —
  * epochs/manifests keep their own retention via vacuum); managed
  * tables created without LOCATION live under the warehouse and can
  * be purged by deleting that directory.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with ProcedureCatalog with StagingTableCatalog with FunctionCatalog {

  /** The catalog serves ONE function, `bucket(n, key)` — what lets
    * Spark resolve the `KeyGroupedPartitioning` bucketed graft scans
    * report ([[GraftBucketing]]): storage-partitioned joins check the
    * two sides' bound functions for canonical-name equality, and
    * runtime filtering may evaluate it. Served from any namespace
    * (the transform resolver looks it up unqualified). */
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active

  /** Session handle for staged-table compensation ([[GraftStagedTable
    * .abortStagedChanges]]). */
  private[v2] def session: SparkSession = spark

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must name a directory"))
  }

  override def name(): String = catalogName

  private def fs =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def defsDir(namespace: Array[String]): Path =
    new Path((s"$warehouse/_defs" +: namespace).mkString("/"))

  private def defPath(ident: Identifier): Path =
    new Path(defsDir(ident.namespace), s"${ident.name}.properties")

  /** The on-disk descriptor of a table — [[GraftMaintenance]] reads
    * declared maintenance policy (clusterBy, bloomIndex) off it. */
  private[graft] def tableDef(ident: Identifier): Option[java.util.Properties] =
    readDef(ident)

  private def readDef(ident: Identifier): Option[java.util.Properties] = {
    val p = defPath(ident)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try { val props = new java.util.Properties(); props.load(in); Some(props) }
      finally in.close()
    }
  }

  private def writeDef(ident: Identifier, props: java.util.Properties): Unit = {
    fs.mkdirs(defsDir(ident.namespace))
    val out = fs.create(defPath(ident), true)
    try props.store(out, null) finally out.close()
  }

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = defsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    fs.listStatus(dir).filter(_.isFile)
      .map(_.getPath.getName).filter(_.endsWith(".properties"))
      .map(n => Identifier.of(namespace, n.stripSuffix(".properties")))
  }

  override def tableExists(ident: Identifier): Boolean =
    readDef(ident).nonEmpty

  override def loadTable(ident: Identifier): Table =
    metadataTable(ident).getOrElse(loadAt(ident, None, None))

  /** Iceberg-style METADATA TABLES: `graft.db.t.history` and
    * `graft.db.t.files` resolve when `db.t` is a registered MANIFEST
    * table and the suffix names a metadata view — DESCRIBE
    * HISTORY/DETAIL ergonomics in plain SELECT form. Contents come
    * from the manifests alone (zero data I/O): `history` is
    * [[graft.sinks.ManifestTable.history]] (version, commit ts, file/
    * row/byte counts), `files` is the CURRENT version's manifest
    * (path, size, row_count, per-tracked-column envelopes). A real
    * table named like a suffix wins — the descriptor is checked
    * first. */
  private def metadataTable(ident: Identifier): Option[Table] = {
    if (readDef(ident).nonEmpty || ident.namespace.isEmpty) return None
    val baseIdent =
      Identifier.of(ident.namespace.init, ident.namespace.last)
    readDef(baseIdent).flatMap { props =>
      val loc = props.getProperty("location")
      if (!graft.sinks.ManifestTable.exists(spark, loc)) None
      else ident.name match {
        case "history" =>
          // static schema at resolution; the history aggregation and
          // its collect run at SCAN time (the [[GraftLocalTable]]
          // thunk) — EXPLAIN, existence probes, and repeated
          // references resolve without paying any metadata jobs
          Some(new GraftLocalTable(s"$catalogName.$baseIdent.history",
            GraftCatalog.HistorySchema,
            () => graft.sinks.ManifestTable.history(spark, loc)
              .collect().toSeq))
        case "files" =>
          // resolution reads only the manifest's SCHEMA (one footer);
          // the row collect defers to scan time
          val v = graft.sinks.ManifestTable.latestVersion(spark, loc)
          val df = graft.sinks.ManifestTable.manifest(spark, loc, v)
          Some(new GraftLocalTable(s"$catalogName.$baseIdent.files",
            df.schema, () => df.collect().toSeq))
        case "constraints" =>
          // the CURRENT version's CHECK-constraint registry — one
          // sidecar read at scan time, zero data I/O
          Some(new GraftLocalTable(
            s"$catalogName.$baseIdent.constraints",
            GraftCatalog.ConstraintsSchema,
            () => {
              val v = graft.sinks.ManifestTable.latestVersion(spark, loc)
              graft.sinks.ManifestTable.constraintsAt(spark, loc, v)
                .map { case (n, e) => org.apache.spark.sql.Row(n, e) }
            }))
        case "refs" =>
          // the ref registry: (name, type, version) — a tag's version
          // is its pin, a branch's its fast-forward base
          Some(new GraftLocalTable(
            s"$catalogName.$baseIdent.refs",
            GraftCatalog.RefsSchema,
            () => graft.sinks.ManifestTable.listRefs(spark, loc).map {
              case (n, graft.sinks.ManifestTable.TagRef(v)) =>
                org.apache.spark.sql.Row(n, "tag", v)
              case (n, graft.sinks.ManifestTable.BranchRef(b)) =>
                org.apache.spark.sql.Row(n, "branch", b)
            }))
        case branch if graft.sinks.ManifestTable
            .readRef(spark, loc, branch)
            .exists(_.isInstanceOf[graft.sinks.ManifestTable.BranchRef]) =>
          // a BRANCH identifier (`db.t.audit`) resolves to the
          // branch's own manifest table — full READ-WRITE surface
          // (INSERT/UPDATE/DELETE/MERGE all land on the branch), the
          // write-audit-publish write side
          val opts = new java.util.HashMap[String, String]()
          props.stringPropertyNames().asScala
            .foreach(k => opts.put(k, props.getProperty(k)))
          opts.put("path",
            graft.sinks.ManifestTable.branchRoot(loc, branch))
          val provider = new GraftTableProvider
          val cis = new CaseInsensitiveStringMap(opts)
          Some(provider.getTable(provider.inferSchema(cis),
            Array.empty, cis))
        case _ => None
      }
    }
  }

  /** SQL `VERSION AS OF v`. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadAt(ident, Some(version), None)

  /** SQL `TIMESTAMP AS OF t` — Spark hands MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    loadAt(ident, None, Some(timestamp / 1000L))

  private def loadAt(ident: Identifier, version: Option[String],
                     tsMs: Option[Long]): Table = {
    val props = readDef(ident).getOrElse(throw new NoSuchTableException(ident))
    val opts = new java.util.HashMap[String, String]()
    props.stringPropertyNames().asScala
      .foreach(k => opts.put(k, props.getProperty(k)))
    opts.put("path", props.getProperty("location"))
    version.foreach(opts.put("versionAsOf", _))
    tsMs.foreach(t => opts.put("timestampAsOf", t.toString))
    val provider = new GraftTableProvider
    val cis = new CaseInsensitiveStringMap(opts)
    val schema = provider.inferSchema(cis)
    provider.getTable(schema, Array.empty, cis)
  }

  /** The single bucket transform a `PARTITIONED BY (bucket(n, keys*))`
    * declaration may carry — the storage-partitioned-join layout
    * (multi-column keys allowed; the comma-joined key list rides in
    * [[graft.sinks.ManifestTable.create]]'s bucketBy string).
    * Anything else (identity partitions, multiple transforms) is
    * refused: graft tables cluster via OPTIMIZE sort columns. */
  private def bucketOf(partitions: Array[Transform],
                       properties: JMap[String, String])
      : Option[(String, Int)] = {
    // both declaration shapes are accepted and equivalent: ONE
    // multi-column transform `bucket(n, k1, k2)` or the per-column
    // form `bucket(n, k1), bucket(n, k2)` — which is exactly what
    // [[GraftTable.partitioning]] reports back, so the catalog can
    // re-create a table from its own reported partitioning
    val fromTransforms = partitions.toSeq match {
      case Seq() => None
      case ts if ts.forall(_.name == "bucket") =>
        def countOf(t: Transform): Int = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.asInstanceOf[Number].intValue
        }.getOrElse(throw new IllegalArgumentException(
          "bucket transform needs a bucket count"))
        val ns = ts.map(countOf).distinct
        require(ns.length == 1,
          s"every bucket transform must declare the SAME count, " +
            s"got ${ns.mkString(", ")}")
        val refs = ts.flatMap(_.references.toSeq)
        require(refs.nonEmpty && refs.forall(_.fieldNames.length == 1),
          "bucket transforms take top-level columns")
        Some((refs.map(_.fieldNames.head).mkString(","), ns.head))
      case _ => throw new IllegalArgumentException(
        "graft tables support PARTITIONED BY (bucket(n, cols*)) only — " +
          "clustering is declared via OPTIMIZE sort columns (clusterBy)")
    }
    fromTransforms.orElse(
      Option(properties.get("bucketBy")).map { s =>
        val parts = s.split(",").map(_.trim)
        require(parts.length >= 2,
          s"bucketBy must be '<col>[,<col>...],<numBuckets>', got $s")
        (parts.init.mkString(","), parts.last.toInt)
      })
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val bucket = bucketOf(partitions, properties)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val location = Option(properties.get(TableCatalog.PROP_LOCATION))
      .getOrElse((s"$warehouse/tables" +: ident.namespace.toSeq :+
        ident.name).mkString("/"))
    val adopting =
      graft.sinks.ManifestTable.exists(spark, location) ||
        graft.sinks.VersionedTable.latestVersion(spark, location) >= 0
    require(bucket.isEmpty || !adopting,
      "bucketBy declares a PHYSICAL layout — it can only be set when " +
        "creating a fresh table, not when adopting an existing LOCATION")
    if (!adopting) {
      // brand-new managed table: an EMPTY manifest table with the
      // declared schema and tracked columns
      val statsCols = Option(properties.get("statsCols"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      require(schema.fields.nonEmpty,
        s"CREATE TABLE $ident needs a column list (or adopt an " +
          "existing table via LOCATION)")
      graft.sinks.ManifestTable.create(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
        location, statsCols, bucketBy = bucket): Unit
    }
    val props = new java.util.Properties()
    properties.asScala
      .filterNot { case (k, _) =>
        k == TableCatalog.PROP_LOCATION || k.startsWith("option.") ||
          k == TableCatalog.PROP_PROVIDER || k == TableCatalog.PROP_OWNER }
      .foreach { case (k, v) => props.setProperty(k, v) }
    props.setProperty("location", location)
    writeDef(ident, props)
    loadTable(ident)
  }

  /** ANSI constraint DDL rides the TableInfo variant — `CREATE TABLE
    * t (..., CONSTRAINT c CHECK (...))`. The base create runs first;
    * a refused constraint (non-CHECK kind, unresolvable expression)
    * then drops the half-created table so the statement stays
    * atomic: failure registers NOTHING. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    // adoption is decided BEFORE the base create, so the failure path
    // knows whether the location is this statement's to remove
    val location = Option(info.properties.get(TableCatalog.PROP_LOCATION))
      .getOrElse((s"$warehouse/tables" +: ident.namespace.toSeq :+
        ident.name).mkString("/"))
    val preExisting =
      graft.sinks.ManifestTable.exists(spark, location) ||
        graft.sinks.VersionedTable.latestVersion(spark, location) >= 0
    val t = createTable(ident, info.schema, info.partitions,
      info.properties)
    if (info.constraints().isEmpty) t
    else try {
      // ONE commit for the whole declared set — a refused later
      // constraint never strands an earlier one, which matters doubly
      // when the CREATE adopted a pre-existing location: failure must
      // leave that table exactly as it was
      graft.sinks.ManifestTable.addConstraints(spark, location,
        info.constraints().toSeq.map(c => (c.name, checkSqlOf(c)))): Unit
      loadTable(ident)
    } catch {
      case e: Throwable =>
        dropTable(ident): Unit
        // a manifest directory this statement CREATED is its own to
        // remove — leaving it would make a later CREATE of the same
        // name silently adopt the stale schema
        if (!preExisting) {
          val p = new Path(location)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true): Unit
        }
        throw e
    }
  }

  /** Stamp a new column's DEFAULT into its field metadata: the
    * CURRENT default (future inserts) is the declared SQL; the EXISTS
    * default (what pre-evolution rows READ for the absent column,
    * served by the parquet readers' existence-default fill) is the
    * expression constant-folded AT DECLARATION TIME — Spark's own
    * fold, which also validates the expression against the column
    * type. */
  private def withColumnDefault(
      f: org.apache.spark.sql.types.StructField,
      sql: String): org.apache.spark.sql.types.StructField = {
    require(sql != null && sql.nonEmpty,
      s"column ${f.name}: DEFAULT must carry a SQL representation")
    val keys = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    val seeded = f.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(keys.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
        .build())
    keys.constantFoldCurrentDefaultsToExistDefaults(
      StructType(Seq(seeded)), "ALTER TABLE ADD COLUMNS").fields.head
  }

  /** The CHECK predicate SQL of a declared constraint — the only
    * constraint KIND the engine enforces (PRIMARY KEY / UNIQUE /
    * FOREIGN KEY would be silent documentation: nothing validates
    * them at landing, so accepting them would let users believe in a
    * guarantee nothing provides). */
  private def checkSqlOf(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
      : String = c match {
    case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
      // the engine validates everything it declares — silently
      // flipping a requested NOT ENFORCED to enforced (add-time scan
      // + per-batch gating) would be the opposite of what was asked
      if (!ck.enforced) throw new UnsupportedOperationException(
        s"constraint ${c.name}: NOT ENFORCED is not supported — " +
          "every declared constraint is validated at add time and on " +
          "every landing")
      Option(ck.predicateSql).getOrElse(throw
        new UnsupportedOperationException(
          s"constraint ${c.name} carries no SQL predicate"))
    case other => throw new UnsupportedOperationException(
      s"only CHECK constraints are supported — ${other.toDDL} would " +
        "be unenforced documentation")
  }

  // ------------------------------------------------- atomic CTAS/RTAS
  //
  // With StagingTableCatalog implemented, Spark plans CREATE/REPLACE
  // TABLE ... AS SELECT through the ATOMIC execs: the table is staged
  // (data written, DESCRIPTOR withheld), then committed in one step —
  // a failed CTAS leaves no descriptor and no directory, instead of a
  // registered-but-empty (or half-loaded) table.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): StagedTable = {
    require(partitions.isEmpty,
      "graft tables cluster via OPTIMIZE sort columns, not partition transforms")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stageAt(ident, schema, properties, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: JMap[String, String]): StagedTable = {
    require(partitions.isEmpty,
      "graft tables cluster via OPTIMIZE sort columns, not partition transforms")
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stageAt(ident, schema, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: JMap[String, String])
      : StagedTable = {
    require(partitions.isEmpty,
      "graft tables cluster via OPTIMIZE sort columns, not partition transforms")
    stageAt(ident, schema, properties, replace = tableExists(ident))
  }

  private def stageAt(ident: Identifier, schema: StructType,
                      properties: JMap[String, String],
                      replace: Boolean): StagedTable = {
    val explicitLoc = Option(properties.get(TableCatalog.PROP_LOCATION))
    val location = explicitLoc
      .orElse(if (replace)
        readDef(ident).map(_.getProperty("location")) else None)
      .getOrElse((s"$warehouse/tables" +: ident.namespace.toSeq :+
        ident.name).mkString("/"))
    val statsCols = Option(properties.get("statsCols"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    var createdDir = false
    if (!replace) {
      if (graft.sinks.ManifestTable.exists(spark, location)) {
        // an existing table at an EXPLICIT location is someone's data
        // (the no-AS CREATE adopts such locations; other identifiers
        // may reference them) — a CTAS must never wipe it. Only a
        // table at this identifier's own MANAGED path, with no
        // descriptor pointing at it (tableExists was false), can be a
        // prior crashed CTAS's orphan — that one clears.
        require(explicitLoc.isEmpty,
          s"CREATE TABLE ... AS SELECT cannot target location " +
            s"$location — a manifest table already lives there; adopt " +
            "it with CREATE TABLE ... USING graft LOCATION (no AS), or " +
            "REPLACE the registered table that owns it")
        new Path(location).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
          .delete(new Path(location), true): Unit
      }
      graft.sinks.ManifestTable.create(
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
        location, statsCols): Unit
      createdDir = true
    }
    val props = new java.util.Properties()
    properties.asScala
      .filterNot { case (k, _) =>
        k == TableCatalog.PROP_LOCATION || k.startsWith("option.") ||
          k == TableCatalog.PROP_PROVIDER || k == TableCatalog.PROP_OWNER }
      .foreach { case (k, v) => props.setProperty(k, v) }
    props.setProperty("location", location)
    new GraftStagedTable(this, ident, location, schema, props,
      replace, createdDir)
  }

  private[v2] def commitStaged(ident: Identifier,
                               props: java.util.Properties): Unit =
    writeDef(ident, props)

  private[v2] def abortStaged(location: String, createdDir: Boolean): Unit =
    if (createdDir) {
      val p = new Path(location)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Spark signals abortStagedChanges while the failed job's
      // CANCELLED write tasks may still be aborting — a zombie task's
      // temp-attempt file can recreate the staged directory AFTER a
      // single delete, leaving a descriptor-less orphan until the
      // next CTAS at this identifier clears it. Verify-and-redelete
      // until the path stays absent across a short quiescence window
      // (three consecutive clean checks), bounded — the "failed CTAS
      // leaves no directory" contract holds at abort RETURN, not just
      // eventually
      f.delete(p, true): Unit
      var quiet = 0
      var waitedMs = 0L
      while (quiet < 3 && waitedMs < 10000) {
        Thread.sleep(100)
        waitedMs += 100
        if (f.exists(p)) { f.delete(p, true): Unit; quiet = 0 }
        else quiet += 1
      }
      // a straggler that outlives the bound leaves the orphan —
      // self-clearing on the next CTAS here, but say so: an
      // unexplained directory after a "no directory" contract is
      // undebuggable without the breadcrumb
      if (quiet < 3 && f.exists(p))
        System.err.println(
          s"[graft] aborted CTAS at $location: a cancelled write " +
            "task kept recreating the staged directory past the " +
            "10s quiescence bound — the descriptor-less orphan " +
            "will be cleared by the next CTAS at this identifier")
    }

  /** Declares ANSI constraint + column DEFAULT DDL support — without
    * these the analyzer refuses `ADD CONSTRAINT` / `DEFAULT` clauses
    * before they reach [[createTable]]/[[alterTable]]. */
  override def capabilities(): java.util.Set[TableCatalogCapability] =
    java.util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val props = readDef(ident).getOrElse(throw new NoSuchTableException(ident))
    // VALIDATE the whole change set, THEN apply: adds as ONE widening
    // commit and drops as ONE narrowing commit — a multi-column ALTER
    // that failed midway under per-change commits would leave the
    // table half-altered while the statement reports failure
    val adds = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.types.StructField]
    val drops = scala.collection.mutable.ArrayBuffer.empty[String]
    val renames = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // nested-struct member changes (path-addressed) — applied through
    // the same frozen-physical-name machinery one level down
    val nestedAdds = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], org.apache.spark.sql.types.StructField)]
    val nestedDrops = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], String)]
    val nestedRenames = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], String)]
    val widens = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], org.apache.spark.sql.types.DataType)]
    val addCons = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    val dropCons = scala.collection.mutable.ArrayBuffer
      .empty[(String, Boolean)]
    val setDefaults = scala.collection.mutable.ArrayBuffer
      .empty[(String, Option[String])]
    changes.foreach {
      case set: TableChange.SetProperty =>
        props.setProperty(set.property, set.value)
      case rm: TableChange.RemoveProperty =>
        props.remove(rm.property): Unit
      case add: TableChange.AddColumn =>
        // ALTER TABLE ADD COLUMN: additive evolution is one empty-
        // batch schema-widening commit on the manifest format — no
        // data rewrites, old rows read NULL (top-level and nested
        // struct members alike). Strict-mode surprise columns in
        // APPENDS stay refused; only this declared DDL widens the
        // schema.
        // refuse rather than silently weaken: every pre-existing row
        // READS NULL for the new column, so honoring NOT NULL is
        // impossible — dropping the constraint behind the user's back
        // would leave them believing it exists
        if (!add.isNullable) throw new UnsupportedOperationException(
          s"ADD COLUMN ${add.fieldNames().mkString(".")} NOT NULL is " +
            "not supported: existing rows read NULL for an evolved-in " +
            "column — declare it nullable")
        if (add.position() != null) throw new UnsupportedOperationException(
          "ADD COLUMN ... FIRST/AFTER is not supported: evolved columns " +
            "append at the end of the schema/struct")
        val field0 = org.apache.spark.sql.types.StructField(
          add.fieldNames.last, add.dataType, nullable = true)
        val field =
          if (add.defaultValue() == null) field0
          else if (add.fieldNames.length > 1)
            throw new UnsupportedOperationException(
              "ADD COLUMN ... DEFAULT on a NESTED struct member is not " +
                "supported: existence defaults fill top-level columns " +
                "only — add the member nullable and backfill")
          else withColumnDefault(field0, add.defaultValue().getSql)
        if (add.fieldNames.length == 1) adds += field
        else nestedAdds += ((add.fieldNames.init.toSeq, field))
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames.length == 1) drops += del.fieldNames()(0)
        else nestedDrops += ((del.fieldNames.init.toSeq,
          del.fieldNames.last))
      case ren: TableChange.RenameColumn =>
        if (ren.fieldNames.length == 1)
          renames += ((ren.fieldNames()(0), ren.newName()))
        else nestedRenames += ((ren.fieldNames.toSeq, ren.newName()))
      case ac: TableChange.AddConstraint =>
        // ALTER TABLE ... ADD CONSTRAINT name CHECK (expr): the
        // engine-enforced invariant ([[graft.sinks.ManifestTable
        // .addConstraint]] — existing rows proven first, every later
        // landing validated before its commit). Non-CHECK kinds
        // refuse inside checkSqlOf.
        addCons += ((ac.constraint().name, checkSqlOf(ac.constraint())))
      case dc: TableChange.DropConstraint =>
        dropCons += ((dc.name, dc.ifExists))
      case ud: TableChange.UpdateColumnDefaultValue =>
        // ALTER COLUMN ... SET/DROP DEFAULT: future-insert metadata
        // only — existing rows keep their EXISTS snapshot (the value
        // the column was ADDED under), the Spark/Delta contract
        require(ud.fieldNames.length == 1,
          "SET/DROP DEFAULT on a nested struct member is not supported")
        setDefaults += ((ud.fieldNames()(0),
          Option(ud.newCurrentDefault()).map(cd =>
            // an expression-only DefaultValue must refuse, not
            // silently collapse to DROP DEFAULT
            Option(cd.getSql).filter(_.nonEmpty).getOrElse(
              throw new UnsupportedOperationException(
                s"SET DEFAULT on ${ud.fieldNames()(0)}: the default " +
                  "must carry a SQL representation")))))
      case wide: TableChange.UpdateColumnType =>
        // ALTER COLUMN ... TYPE: lossless primitive WIDENING is
        // metadata-only (old files upcast per file at read), top-level
        // and nested struct members alike; anything else refuses
        // inside widenColumnType with the reason. Accumulated like
        // every other change — applied only after the whole change
        // set validates, so a refused sibling change never leaves the
        // table half-altered
        widens += ((wide.fieldNames.toSeq, wide.newDataType()))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported table change $other — evolve via " +
          "ADD/DROP/RENAME COLUMN, widening ALTER COLUMN TYPE, or the " +
          "table formats")
    }
    require(props.getProperty("location") != null,
      "the location property cannot be removed")
    // widen pre-validation runs BEFORE any change kind applies: a
    // refused widen (narrowing, bucket key, pending eq deletes) must
    // fail the WHOLE statement with zero changes applied — not strand
    // an already-committed sibling ADD/DROP/RENAME
    if (widens.nonEmpty) {
      val loc = props.getProperty("location")
      require(graft.sinks.ManifestTable.exists(spark, loc),
        "ALTER COLUMN TYPE is supported on manifest-format tables only")
      graft.sinks.ManifestTable.validateWidens(spark, loc, widens.toSeq)
    }
    if (adds.nonEmpty || drops.nonEmpty) {
      val loc = props.getProperty("location")
      require(graft.sinks.ManifestTable.exists(spark, loc),
        "ADD/DROP COLUMN is supported on manifest-format tables only " +
          "(epoch tables evolve through merge(evolveSchema = true))")
      // dropping a column the DECLARED MAINTENANCE rides on would
      // break every later tick (optimizeIncremental/buildBloom on a
      // schema without it) — refuse until the policy is re-declared
      drops.foreach { c =>
        Seq("clusterBy", "bloomIndex").foreach { p =>
          val declared = Option(props.getProperty(p))
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)
          require(!declared.contains(c),
            s"column $c is named by the table's '$p' maintenance " +
              s"property — unset or re-declare '$p' first (a prior " +
              "ALTER TABLE ... SET/UNSET TBLPROPERTIES), then drop " +
              "the column")
        }
      }
      // ONE commit for the whole change set — adds and drops landing
      // as separate commits would leave the table half-altered when
      // the second one fails after the first succeeded
      graft.sinks.ManifestTable.alterColumns(spark, loc,
        adds.toSeq, drops.toSeq): Unit
    }
    if (renames.nonEmpty) {
      val loc = props.getProperty("location")
      require(graft.sinks.ManifestTable.exists(spark, loc),
        "RENAME COLUMN is supported on manifest-format tables only")
      renames.foreach { case (from, to) =>
        // metadata-only via the name mapping — data files, manifest
        // stat columns, and bloom bits keep the frozen
        // PHYSICAL name, so nothing rewrites and pruning stays live
        graft.sinks.ManifestTable.renameColumn(spark, loc, from, to): Unit
        // the maintenance/stat declarations follow the LOGICAL name
        Seq("clusterBy", "bloomIndex", "statsCols").foreach { p =>
          Option(props.getProperty(p)).foreach { v =>
            props.setProperty(p, v.split(",").map(_.trim)
              .map(c => if (c == from) to else c).mkString(","))
          }
        }
      }
    }
    if (nestedAdds.nonEmpty || nestedDrops.nonEmpty) {
      val loc = props.getProperty("location")
      require(graft.sinks.ManifestTable.exists(spark, loc),
        "nested ADD/DROP COLUMN is supported on manifest-format tables only")
      // one commit PER PARENT STRUCT (its adds and drops together) —
      // the same whole-set-validated, single-commit shape as the
      // top-level alterColumns
      val byParent = (nestedAdds.map { case (p, f) => (p, Some(f), None) }
        ++ nestedDrops.map { case (p, n) => (p, None, Some(n)) })
        .groupBy(_._1)
      byParent.toSeq.sortBy(_._1.mkString(".")).foreach {
        case (parent, changes) =>
          graft.sinks.ManifestTable.alterNestedColumns(spark, loc, parent,
            changes.flatMap(_._2).toSeq, changes.flatMap(_._3).toSeq): Unit
      }
    }
    if (nestedRenames.nonEmpty) {
      val loc = props.getProperty("location")
      require(graft.sinks.ManifestTable.exists(spark, loc),
        "nested RENAME COLUMN is supported on manifest-format tables only")
      nestedRenames.foreach { case (path, to) =>
        graft.sinks.ManifestTable.renameColumnPath(spark, loc,
          path, to): Unit
      }
    }
    if (widens.nonEmpty) {
      // pre-validated above, before any sibling change applied
      val loc = props.getProperty("location")
      widens.foreach { case (path, to) =>
        graft.sinks.ManifestTable.widenColumnTypePath(spark, loc, path,
          to): Unit
      }
    }
    if (setDefaults.nonEmpty) {
      val loc = props.getProperty("location")
      require(graft.sinks.ManifestTable.exists(spark, loc),
        "SET/DROP DEFAULT is supported on manifest-format tables only")
      setDefaults.foreach { case (name, dflt) =>
        graft.sinks.ManifestTable.setColumnDefault(spark, loc, name,
          dflt): Unit }
    }
    if (addCons.nonEmpty || dropCons.nonEmpty) {
      val loc = props.getProperty("location")
      require(graft.sinks.ManifestTable.exists(spark, loc),
        "ADD/DROP CONSTRAINT is supported on manifest-format tables only")
      addCons.foreach { case (n, e) =>
        graft.sinks.ManifestTable.addConstraint(spark, loc, n, e): Unit }
      dropCons.foreach { case (n, ifExists) =>
        graft.sinks.ManifestTable.dropConstraint(spark, loc, n,
          ifExists): Unit }
    }
    writeDef(ident, props)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    fs.delete(defPath(ident), false)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // RENAME TO targets arrive catalog-qualified (Spark does not strip
    // the catalog from the parsed multipart target) — normalize
    val to =
      if (newIdent.namespace.headOption.contains(catalogName))
        Identifier.of(newIdent.namespace.drop(1), newIdent.name)
      else newIdent
    val props = readDef(oldIdent).getOrElse(
      throw new NoSuchTableException(oldIdent))
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    writeDef(to, props)
    fs.delete(defPath(oldIdent), false): Unit
  }

  /** Resolve `ns….table` (relative to this catalog) to its location —
    * the procedures' by-name entry. */
  private[v2] def locationOf(tableName: String): String = {
    val parts = tableName.split('.')
    require(parts.length >= 2, s"expected namespace.table, got $tableName")
    val ident = Identifier.of(parts.init, parts.last)
    readDef(ident).map(_.getProperty("location"))
      .getOrElse(throw new NoSuchTableException(ident))
  }

  // --------------------------------------------------------- procedures

  /** SQL `CALL graft.system.…` — see [[GraftProcedures]]. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array(Identifier.of(Array("system"), "maintain"),
        Identifier.of(Array("system"), "vacuum_table"),
        Identifier.of(Array("system"), "restore_table"),
        Identifier.of(Array("system"), "clone_table"),
        Identifier.of(Array("system"), "optimize_table"),
        Identifier.of(Array("system"), "compact_eq"),
        Identifier.of(Array("system"), "add_constraint"),
        Identifier.of(Array("system"), "drop_constraint"),
        Identifier.of(Array("system"), "create_branch"),
        Identifier.of(Array("system"), "create_tag"),
        Identifier.of(Array("system"), "publish_branch"),
        Identifier.of(Array("system"), "drop_ref"),
        Identifier.of(Array("system"), "create_mv"),
        Identifier.of(Array("system"), "refresh_mv"),
        Identifier.of(Array("system"), "analyze_table"))
    else Array.empty

  /** Shallow-clone `src` (a registered manifest table) as `dst`:
    * [[graft.sinks.ManifestTable.cloneTo]] into a managed location,
    * descriptor copied with the location re-pointed — the clone
    * inherits the source's declared maintenance policy (clusterBy,
    * bloomIndex) and, with its manifest entries, their bloom bits.
    * Returns the clone's location. */
  private[v2] def cloneRegistered(srcName: String, dstName: String): String = {
    val srcLoc = locationOf(srcName)
    require(graft.sinks.ManifestTable.exists(spark, srcLoc),
      s"clone_table is for manifest-format tables; $srcName is not one")
    val parts = dstName.split('.')
    require(parts.length >= 2, s"expected namespace.table, got $dstName")
    val dstIdent = Identifier.of(parts.init, parts.last)
    if (tableExists(dstIdent)) throw new TableAlreadyExistsException(dstIdent)
    val dstLoc = (s"$warehouse/tables" +: dstIdent.namespace.toSeq :+
      dstIdent.name).mkString("/")
    graft.sinks.ManifestTable.cloneTo(spark, srcLoc, dstLoc): Unit
    val srcParts = srcName.split('.')
    val props = readDef(Identifier.of(srcParts.init, srcParts.last))
      .getOrElse(throw new NoSuchTableException(
        Identifier.of(srcParts.init, srcParts.last)))
    val out = new java.util.Properties()
    props.stringPropertyNames().asScala
      .foreach(k => out.setProperty(k, props.getProperty(k)))
    out.setProperty("location", dstLoc)
    writeDef(dstIdent, out)
    dstLoc
  }

  /** Create a REGISTERED incremental materialized view over a
    * registered base table: the view is an ordinary named manifest
    * table (SELECT it, time-travel it) at a managed location, plus
    * the definition/offset state [[graft.sinks.MaterializedView]]
    * maintains. Returns the view's location. */
  /** Where a named table group's metadata lives — groups are catalog
    * constructs (not tables), keyed by a simple name. */
  private[v2] def groupRoot(name: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_-]*"),
      s"group name '$name' must be an identifier")
    s"$warehouse/_groups/$name"
  }

  private[v2] def createMvRegistered(mvName: String, baseName: String,
                                     defSql: String,
                                     keyCols: Seq[String],
                                     dims: Seq[graft.sinks
                                       .MaterializedView.JoinDim] = Nil,
                                     keyExprs: Map[String, String] =
                                       Map.empty)
      : String = {
    val baseLoc = locationOf(baseName)
    require(graft.sinks.ManifestTable.exists(spark, baseLoc),
      s"create_mv is for manifest-format tables; $baseName is not one")
    dims.foreach(d =>
      require(graft.sinks.ManifestTable.exists(spark, d.root),
        s"create_mv dim ${d.name} is not a manifest-format table"))
    val parts = mvName.split('.')
    require(parts.length >= 2, s"expected namespace.table, got $mvName")
    val mvIdent = Identifier.of(parts.init, parts.last)
    if (tableExists(mvIdent)) throw new TableAlreadyExistsException(mvIdent)
    val mvLoc = (s"$warehouse/tables" +: mvIdent.namespace.toSeq :+
      mvIdent.name).mkString("/")
    graft.sinks.MaterializedView.create(spark, mvLoc, baseLoc,
      defSql, keyCols, dims, keyExprs): Unit
    val out = new java.util.Properties()
    out.setProperty("location", mvLoc)
    out.setProperty("statsCols", keyCols.mkString(","))
    writeDef(mvIdent, out)
    mvLoc
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the system namespace, got $ident")
    ident.name match {
      case "maintain"      => new GraftProcedures.Maintain(catalogName)
      case "vacuum_table"  => new GraftProcedures.Vacuum(this)
      case "restore_table"  => new GraftProcedures.Restore(this)
      case "clone_table"    => new GraftProcedures.Clone(this)
      case "optimize_table" => new GraftProcedures.Optimize(this)
      case "compact_eq"     => new GraftProcedures.CompactEq(this)
      case "add_constraint"  => new GraftProcedures.AddConstraint(this)
      case "drop_constraint" => new GraftProcedures.DropConstraint(this)
      case "create_branch"   => new GraftProcedures.CreateBranch(this)
      case "create_tag"      => new GraftProcedures.CreateTag(this)
      case "publish_branch"  => new GraftProcedures.PublishBranch(this)
      case "drop_ref"        => new GraftProcedures.DropRef(this)
      case "create_mv"       => new GraftProcedures.CreateMv(this)
      case "refresh_mv"      => new GraftProcedures.RefreshMv(this)
      case "enable_mv_rewrite" =>
        new GraftProcedures.MvRewriteSwitch(this, enable = true)
      case "disable_mv_rewrite" =>
        new GraftProcedures.MvRewriteSwitch(this, enable = false)
      case "create_group"    => new GraftProcedures.CreateGroup(this)
      case "publish_group"   => new GraftProcedures.PublishGroup(this)
      case "group_snapshot"  => new GraftProcedures.GroupSnapshot(this)
      case "analyze_table"   => new GraftProcedures.AnalyzeTable(this)
      case other => throw new UnsupportedOperationException(
        s"unknown procedure $catalogName.system.$other (available: " +
          "maintain, vacuum_table, restore_table, clone_table, " +
          "optimize_table, compact_eq, add_constraint, drop_constraint, " +
          "create_branch, create_tag, publish_branch, drop_ref, " +
          "create_mv, refresh_mv, enable_mv_rewrite, disable_mv_rewrite)")
    }
  }

  // --------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val base = new Path(s"$warehouse/_defs")
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isDirectory)
      .map(d => Array(d.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val dir = defsDir(namespace)
      if (!fs.exists(dir)) throw new NoSuchNamespaceException(
        (catalogName +: namespace).toSeq)
      fs.listStatus(dir).filter(_.isDirectory)
        .map(d => namespace :+ d.getPath.getName)
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    fs.exists(defsDir(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    new java.util.HashMap[String, String]()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    fs.mkdirs(defsDir(namespace)): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val dir = defsDir(namespace)
    if (!fs.exists(dir)) false
    else if (!cascade && fs.listStatus(dir).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    else fs.delete(dir, true)
  }
}

object GraftCatalog {
  import org.apache.spark.sql.types._

  /** Static schema of the `t.history` metadata table — mirrors
    * [[graft.sinks.ManifestTable.history]]'s tuple-encoder schema so
    * resolution never has to build (or run) the history frame. */
  private[v2] val HistorySchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("committed_at", TimestampType, nullable = true),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  private[v2] val ConstraintsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("expr", StringType, nullable = false)))

  /** Schema of the `t.refs` metadata table: a tag's `version` is its
    * immutable pin, a branch's its current fast-forward base. */
  private[v2] val RefsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))
}
