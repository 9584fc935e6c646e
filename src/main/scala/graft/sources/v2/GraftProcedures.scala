package graft.sources.v2

import java.util.{Iterator => JIterator}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL `CALL` surface for table operations — the Spark 4 DSv2
  * stored-procedure API ([[org.apache.spark.sql.connector.catalog
  * .ProcedureCatalog]], the seam Iceberg's `CALL cat.system.…`
  * procedures ride):
  *
  * {{{
  *   CALL graft.system.maintain('db.events')
  *   CALL graft.system.vacuum_table('db.events', 2)
  * }}}
  *
  * `maintain` runs the catalog-declared policy
  * ([[GraftMaintenance]]: clusterBy re-cluster + bloomIndex builds)
  * and returns what it did; `vacuum_table` drops history beyond the
  * newest `keep` versions and sweeps unreferenced data files
  * (refcount-aware). Results come back as a
  * one-row [[LocalScan]] — driver-computed, metadata-scale. */
private[v2] object GraftProcedures {

  private def oneRowScan(schema: StructType,
                         row: InternalRow): JIterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(row)
    }).iterator()

  /** `maintain(table)` — [[GraftMaintenance.maintain]] by name. */
  final class Maintain(catalogName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "maintain"
    override def description(): String =
      "run the table's declared maintenance (clusterBy re-cluster, " +
        "bloomIndex builds); no-op when the layout is already restored"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("optimized_version", LongType, nullable = true),
      StructField("blooms_built", IntegerType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val tbl = input.getUTF8String(0).toString
      val (opt, blooms) = GraftMaintenance.maintain(
        SparkSession.active, s"$catalogName.$tbl")
      oneRowScan(outSchema,
        InternalRow(opt.map(Long.box).orNull, blooms.count(_.nonEmpty)))
    }
  }

  /** `restore_table(table, version)` — [[graft.sinks.ManifestTable
    * .restore]] by name: RESTORE TO VERSION AS OF as a metadata-only
    * commit (files re-referenced, zero data I/O, history intact). */
  final class Restore(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "restore_table"
    override def description(): String =
      "commit a new version whose content is a retained version's, " +
        "verbatim — zero data I/O, history stays time-travelable"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("version", LongType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("restored_from", LongType, nullable = false),
      StructField("committed_version", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val from = input.getLong(1)
      val loc = catalog.locationOf(tbl)
      val v = graft.sinks.ManifestTable.restore(spark, loc, from)
      oneRowScan(outSchema, InternalRow(from, v))
    }
  }

  /** `compact_eq(table)` — [[graft.sinks.ManifestTable.compactEq]] by
    * name: materialize every PENDING equality delete (the streaming
    * keyed-ingest grain) as ordinary deletion vectors in one commit,
    * so reads stop paying per-version resolution and the delete key
    * files become vacuumable. NULL committed_version = nothing was
    * pending (the no-op a scheduled tick relies on). */
  final class CompactEq(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact_eq"
    override def description(): String =
      "materialize pending equality deletes as deletion vectors — " +
        "one commit, content identical, no-op when none are pending"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("committed_version", LongType, nullable = true)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val loc = catalog.locationOf(tbl)
      val v = graft.sinks.ManifestTable.compactEq(spark, loc)
      oneRowScan(outSchema, InternalRow(v.map(Long.box).orNull))
    }
  }

  /** `add_constraint(table, name, expr)` — [[graft.sinks
    * .ManifestTable.addConstraint]] by name: declare a CHECK
    * invariant (existing rows are validated first; every later
    * landing validates its own batch before committing). */
  final class AddConstraint(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "add_constraint"
    override def description(): String =
      "add a CHECK constraint: existing rows must satisfy it, and " +
        "every future batch is validated before its commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("expr", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("committed_version", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val loc = catalog.locationOf(tbl)
      val v = graft.sinks.ManifestTable.addConstraint(spark, loc,
        input.getUTF8String(1).toString, input.getUTF8String(2).toString)
      oneRowScan(outSchema, InternalRow(v))
    }
  }

  /** `drop_constraint(table, name)` — [[graft.sinks.ManifestTable
    * .dropConstraint]] by name (metadata-only; unknown names refuse
    * instead of silently "succeeding"). */
  final class DropConstraint(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_constraint"
    override def description(): String =
      "drop a named CHECK constraint — metadata-only commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("committed_version", LongType, nullable = true)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val loc = catalog.locationOf(tbl)
      val v = graft.sinks.ManifestTable.dropConstraint(spark, loc,
        input.getUTF8String(1).toString)
      oneRowScan(outSchema, InternalRow(v.map(Long.box).orNull))
    }
  }

  /** `create_branch(table, name)` — fork the table's head as a
    * writable branch ([[graft.sinks.ManifestTable.createBranch]]):
    * zero data copied; write through the `db.t.<name>` identifier,
    * audit, then `publish_branch`. */
  final class CreateBranch(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_branch"
    override def description(): String =
      "fork the table head as a writable branch (write-audit-publish): " +
        "INSERT/MERGE/DELETE via the db.t.<branch> identifier, then " +
        "publish_branch fast-forwards main"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("forked_at_version", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val loc = catalog.locationOf(tbl)
      val base = graft.sinks.ManifestTable.createBranch(spark, loc,
        input.getUTF8String(1).toString)
      oneRowScan(outSchema, InternalRow(base))
    }
  }

  /** `create_tag(table, name)` — pin the table's head immutably
    * ([[graft.sinks.ManifestTable.createTag]]); vacuum retains the
    * tagged version until the ref drops; read via
    * `VERSION AS OF '<name>'`. */
  final class CreateTag(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_tag"
    override def description(): String =
      "pin the table's current version under an immutable name — " +
        "vacuum retains it; read it with VERSION AS OF '<name>'"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("tagged_version", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val loc = catalog.locationOf(tbl)
      val v = graft.sinks.ManifestTable.createTag(spark, loc,
        input.getUTF8String(1).toString)
      oneRowScan(outSchema, InternalRow(v))
    }
  }

  /** `publish_branch(table, name)` — the write-audit-publish commit
    * ([[graft.sinks.ManifestTable.publishBranch]]): ONE fast-forward
    * CAS adopts the branch's state as main's next version; refused if
    * main moved since the fork. */
  final class PublishBranch(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "publish_branch"
    override def description(): String =
      "atomically fast-forward main to the branch's audited state; " +
        "refused when main moved since the fork"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        // merge => true: when main moved since the fork, three-way
        // merge disjoint FILE changes in one commit (overlapping
        // files refuse, both commit ranges named)
        ProcedureParameter.in("merge",
          org.apache.spark.sql.types.BooleanType)
          .defaultValue("false").build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("published_version", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val loc = catalog.locationOf(tbl)
      val v = graft.sinks.ManifestTable.publishBranch(spark, loc,
        input.getUTF8String(1).toString,
        merge = !input.isNullAt(2) && input.getBoolean(2))
      oneRowScan(outSchema, InternalRow(v))
    }
  }

  /** `drop_ref(table, name)` — drop a tag (releasing its retention
    * pin) or a branch (reclaiming its unpublished files; published
    * files survive by main's refcount). */
  final class DropRef(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "drop_ref"
    override def description(): String =
      "drop a tag or branch ref; branch data not referenced by main " +
        "is reclaimed"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("name", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("dropped", StringType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val loc = catalog.locationOf(tbl)
      val name = input.getUTF8String(1).toString
      graft.sinks.ManifestTable.dropRef(spark, loc, name)
      oneRowScan(outSchema, InternalRow(UTF8String.fromString(name)))
    }
  }

  /** `analyze_table(table, cols)` — [[graft.sinks.ManifestTable
    * .analyzeTable]]: one distributed HLL pass computing approximate
    * per-column distinct counts, committed as carried metadata;
    * cost-based join planning reads them through the scan's column
    * statistics. `cols` is comma-separated; '' analyzes every
    * atomic-typed column. */
  final class AnalyzeTable(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "analyze_table"
    override def description(): String =
      "compute approximate per-column distinct counts (one HLL pass) " +
        "for cost-based join planning; '' analyzes all atomic columns"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("cols", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("committed_version", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val loc = catalog.locationOf(tbl)
      val cols = input.getUTF8String(1).toString.split(",")
        .map(_.trim).filter(_.nonEmpty).toSeq
      val v = graft.sinks.ManifestTable.analyzeTable(spark, loc, cols)
      oneRowScan(outSchema, InternalRow(v))
    }
  }

  /** `create_mv(view, base, def_sql, keys)` — a registered INCREMENTAL
    * materialized view ([[graft.sinks.MaterializedView]]): `def_sql`
    * references the base as `__BASE__`; `refresh_mv` maintains it at
    * cost ∝ changed groups. */
  final class CreateMv(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_mv"
    override def description(): String =
      "create an incremental materialized view: def_sql over __BASE__ " +
        "(+ __DIM_<name>__ placeholders declared via dims) with " +
        "GROUP-key columns; refresh_mv recomputes only changed groups"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("view", StringType).build(),
        ProcedureParameter.in("base", StringType).build(),
        ProcedureParameter.in("def_sql", StringType).build(),
        ProcedureParameter.in("keys", StringType).build(),
        ProcedureParameter.in("dims", StringType)
          .defaultValue("''").build(),
        // expression group keys: `name=sql_expr[; ...]`, e.g.
        // `month=date_trunc('month', ts)` — deterministic over the
        // base alone, selected in def_sql under the same name
        ProcedureParameter.in("key_exprs", StringType)
          .defaultValue("''").build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("location", StringType, nullable = false)))
    /** `dims` syntax, one entry per declared dimension:
      * `name=ns.table [FROM parent] ON factCol=dimCol[,fk2=dk2][; …]`
      * — `name` binds `__DIM_name__` in def_sql, the table resolves
      * in this catalog, the pairs are the equi-join keys; `FROM p`
      * chains a snowflake dim off declared dim `p` (the left columns
      * are then p's). */
    private val DimRe =
      """(?i)^(\w+)\s*=\s*([\w.]+)(?:\s+FROM\s+(\w+))?\s+ON\s+(.+)$""".r
    override def call(input: InternalRow): JIterator[Scan] = {
      val dims = input.getUTF8String(4).toString
        .split(';').map(_.trim).filter(_.nonEmpty).toSeq.map {
          case DimRe(name, tbl, parent, pairs) =>
            val (fks, dks) = pairs.split(',').map(_.trim).map { p =>
              val kv = p.split('=')
              require(kv.length == 2,
                s"bad join pair '$p' in dims — expected factCol=dimCol")
              (kv(0).trim, kv(1).trim)
            }.toSeq.unzip
            graft.sinks.MaterializedView.JoinDim(
              name, catalog.locationOf(tbl), fks, dks,
              parent = Option(parent))
          case tok => throw new IllegalArgumentException(
            s"bad dims entry '$tok' — expected " +
              "name=ns.table [FROM parent] ON factCol=dimCol[,fk2=dk2]")
        }
      val keyExprs = input.getUTF8String(5).toString
        .split(';').map(_.trim).filter(_.nonEmpty).toSeq.map { tok =>
          val i = tok.indexOf('=')
          require(i > 0,
            s"bad key_exprs entry '$tok' — expected name=sql_expr")
          (tok.take(i).trim, tok.drop(i + 1).trim)
        }.toMap
      val loc = catalog.createMvRegistered(
        input.getUTF8String(0).toString, input.getUTF8String(1).toString,
        input.getUTF8String(2).toString,
        input.getUTF8String(3).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq,
        dims, keyExprs)
      oneRowScan(outSchema, InternalRow(UTF8String.fromString(loc)))
    }
  }

  /** `enable_mv_rewrite(view)` / `disable_mv_rewrite(view)` — opt a
    * registered view in/out of TRANSPARENT REWRITE for this session:
    * while enabled (and the view FRESH — staleness stands down to the
    * direct scan automatically), any aggregate whose analyzed plan
    * matches the view's definition reads the view's files instead of
    * re-scanning the base ([[graft.plans.GraftMvRewriteRule]]). */
  final class MvRewriteSwitch(catalog: GraftCatalog, enable: Boolean)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String =
      if (enable) "enable_mv_rewrite" else "disable_mv_rewrite"
    override def description(): String =
      if (enable)
        "serve matching aggregates from this materialized view while " +
          "it is fresh (stale views stand down to the direct scan)"
      else "stop serving matching aggregates from this view"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("view", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("location", StringType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val loc = catalog.locationOf(input.getUTF8String(0).toString)
      if (enable) graft.sinks.MaterializedView.enableRewrite(spark, loc)
      else graft.sinks.MaterializedView.disableRewrite(spark, loc)
      oneRowScan(outSchema, InternalRow(UTF8String.fromString(loc)))
    }
  }

  /** `refresh_mv(view)` — incremental refresh; returns the view's new
    * version and the recomputed group count (NULLs when the base has
    * not moved). */
  final class RefreshMv(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "refresh_mv"
    override def description(): String =
      "incrementally refresh a materialized view: recompute ONLY the " +
        "groups the base's changes touched, fold as one keyed commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("view", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("view_version", LongType, nullable = true),
      StructField("groups_recomputed", LongType, nullable = true)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val loc = catalog.locationOf(input.getUTF8String(0).toString)
      val out = graft.sinks.MaterializedView.refresh(spark, loc)
      oneRowScan(outSchema, InternalRow(
        out.map(o => Long.box(o._1)).orNull,
        out.map(o => Long.box(o._2)).orNull))
    }
  }

  /** `create_group(group, members)` — a MULTI-TABLE TRANSACTION group
    * ([[graft.sinks.TableGroup]]): `members` is
    * `name=ns.table[; ...]`; tuple 0 pins the members' current
    * heads. Group snapshots are the cross-table consistency
    * boundary — see `group_snapshot` for the SQL-side consistent
    * read recipe. */
  final class CreateGroup(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "create_group"
    override def description(): String =
      "register a multi-table transaction group; tuple 0 pins the " +
        "members' current heads"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("group", StringType).build(),
        ProcedureParameter.in("members", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("location", StringType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val loc = catalog.groupRoot(input.getUTF8String(0).toString)
      val members = input.getUTF8String(1).toString
        .split(';').map(_.trim).filter(_.nonEmpty).toSeq.map { tok =>
          val i = tok.indexOf('=')
          require(i > 0,
            s"bad members entry '$tok' — expected name=ns.table")
          (tok.take(i).trim, catalog.locationOf(tok.drop(i + 1).trim))
        }.toMap
      graft.sinks.TableGroup.create(spark, loc, members): Unit
      oneRowScan(outSchema, InternalRow(UTF8String.fromString(loc)))
    }
  }

  /** `publish_group(group, branch [, merge])` — publish branch
    * `branch` on every member that has it, then advance the group
    * tuple ONCE: group readers see the whole publish or none of it. */
  final class PublishGroup(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "publish_group"
    override def description(): String =
      "publish each member's branch then advance the group tuple " +
        "once — the atomic multi-table publish"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("group", StringType).build(),
        ProcedureParameter.in("branch", StringType).build(),
        ProcedureParameter.in("merge",
          org.apache.spark.sql.types.BooleanType)
          .defaultValue("false").build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("group_version", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val v = graft.sinks.TableGroup.publishBranches(spark,
        catalog.groupRoot(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString,
        merge = !input.isNullAt(2) && input.getBoolean(2))
      oneRowScan(outSchema, InternalRow(v))
    }
  }

  /** `group_snapshot(group)` — the current consistent tuple, one row
    * per member: read each member with
    * `SELECT … FROM ns.table VERSION AS OF <version>` to get the
    * cross-table-consistent pair in pure SQL. */
  final class GroupSnapshot(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "group_snapshot"
    override def description(): String =
      "the group's current consistent tuple (member, pinned version) " +
        "— VERSION AS OF each pinned version for a consistent SQL read"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("group", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("group_version", LongType, nullable = false),
      StructField("member", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val snap = graft.sinks.TableGroup.snapshot(spark,
        catalog.groupRoot(input.getUTF8String(0).toString))
      val tupleRows = snap.members.toSeq.sortBy(_._1).map { case (n, v) =>
        InternalRow(snap.version, UTF8String.fromString(n), v)
          : InternalRow
      }.toArray
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = outSchema
        override def rows(): Array[InternalRow] = tupleRows
      }).iterator()
    }
  }

  /** `clone_table(src, dst)` — [[graft.sinks.ManifestTable.cloneTo]]
    * by name: a SHALLOW CLONE registered in the catalog (descriptor
    * copied, location re-pointed), data files shared by reference. */
  final class Clone(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "clone_table"
    override def description(): String =
      "shallow-clone a manifest table: the new table's first version " +
        "references the source's data files — zero data copied"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("src", StringType).build(),
        ProcedureParameter.in("dst", StringType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("location", StringType, nullable = false),
      StructField("n_files", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val src = input.getUTF8String(0).toString
      val dst = input.getUTF8String(1).toString
      val loc = catalog.cloneRegistered(src, dst)
      val n = graft.sinks.ManifestTable
        .filesAt(spark, loc,
          graft.sinks.ManifestTable.latestVersion(spark, loc)).size.toLong
      oneRowScan(outSchema, InternalRow(UTF8String.fromString(loc), n))
    }
  }

  /** `optimize_table(table, sort_cols, num_files[, bucket_by,
    * buckets])` — the explicit FULL re-lay by name
    * ([[graft.sinks.ManifestTable.optimize]]: content identical, all
    * files replaced, vectors purged — the one legitimately
    * cost-∝-table operation; [[GraftMaintenance]]'s `maintain` stays
    * the incremental tick). Empty `sort_cols` compacts without
    * re-clustering. The optional bucket arguments REBUCKET instead
    * ([[graft.sinks.ManifestTable.rebucket]] — the same full re-lay,
    * committed together with the new bucket claim):
    * `buckets => n` re-clusters (by `bucket_by`'s comma-separated
    * keys, or the CURRENT key when omitted — the grown-cardinality
    * case), `buckets => 0` drops the layout, unlocking bucket-key
    * widen/drop. */
  final class Optimize(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "optimize_table"
    override def description(): String =
      "re-lay the table's current rows as a fresh clustered file set " +
        "(full optimize: all files replaced, deletion vectors " +
        "purged); buckets => n rebuckets, buckets => 0 drops the layout"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("sort_cols", StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("num_files", IntegerType)
          .defaultValue("16").build(),
        ProcedureParameter.in("bucket_by", StringType)
          .defaultValue("''").build(),
        ProcedureParameter.in("buckets", IntegerType)
          .defaultValue("-1").build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("committed_version", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val sortCols = input.getUTF8String(1).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val nFiles = input.getInt(2)
      val bucketBy = input.getUTF8String(3).toString.trim
      val buckets = input.getInt(4)
      val loc = catalog.locationOf(tbl)
      val v =
        if (buckets >= 0) {
          if (buckets == 0) {
            require(bucketBy.isEmpty,
              "buckets => 0 drops the layout; bucket_by names nothing")
            graft.sinks.ManifestTable.rebucket(spark, loc, None,
              sortCols = sortCols, numFiles = nFiles)
          } else {
            val key =
              if (bucketBy.nonEmpty) bucketBy
              else graft.sinks.ManifestTable.bucketSpecLogical(
                graft.sinks.ManifestTable.tableSchema(spark, loc,
                  graft.sinks.ManifestTable.latestVersion(spark, loc)))
                .map(_._1.mkString(","))
                .getOrElse(throw new IllegalArgumentException(
                  s"$tbl is not bucketed — name the key with " +
                    "bucket_by => 'col[,col]'"))
            graft.sinks.ManifestTable.rebucket(spark, loc,
              Some((key, buckets)), sortCols = sortCols,
              numFiles = nFiles)
          }
        } else {
          require(bucketBy.isEmpty,
            "bucket_by needs buckets => n (or 0 to drop the layout)")
          graft.sinks.ManifestTable.optimize(spark, loc,
            sortCols = sortCols, numFiles = nFiles)
        }
      val n = graft.sinks.ManifestTable.filesAt(spark, loc, v).size.toLong
      oneRowScan(outSchema, InternalRow(v, n))
    }
  }

  /** `vacuum_table(table, keep)` — [[graft.sinks.ManifestTable.vacuum]]
    * by name. */
  final class Vacuum(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = "vacuum_table"
    override def description(): String =
      "drop versions beyond the newest `keep` and sweep unreferenced " +
        "data files (refcount-aware)"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] =
      Array(ProcedureParameter.in("table", StringType).build(),
        ProcedureParameter.in("keep", IntegerType).build())
    override def isDeterministic: Boolean = false
    private val outSchema = StructType(Seq(
      StructField("location", StringType, nullable = false),
      StructField("retained_versions", IntegerType, nullable = false)))
    override def call(input: InternalRow): JIterator[Scan] = {
      val spark = SparkSession.active
      val tbl = input.getUTF8String(0).toString
      val keep = input.getInt(1)
      val loc = catalog.locationOf(tbl)
      graft.sinks.ManifestTable.vacuum(spark, loc, keep)
      oneRowScan(outSchema, InternalRow(UTF8String.fromString(loc),
        graft.sinks.ManifestTable.versions(spark, loc).size))
    }
  }
}
