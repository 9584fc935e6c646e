package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, Identifier}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** WRITE-SIDE SCHEMA AUTO-MERGE for appends — the Delta `mergeSchema`
  * ergonomics: a by-name append whose frame carries new columns, new
  * struct members, or losslessly wider primitives EVOLVES the table
  * (the same additive metadata-only commits `ALTER TABLE` would make)
  * and then lands, instead of failing resolution. Opt-in per write
  * (`.option("mergeSchema", "true")`) or per session
  * (`spark.graft.schema.autoMerge = true`); lossy conflicts refuse
  * with the column and types named — auto-merge is additive only.
  *
  * Runs in the analyzer's HINTS batch — the one that precedes
  * Resolution — because the built-in output resolver fails a
  * too-many-columns append in the same fixed-point iteration that
  * would first reach an injected resolution rule. ONE shape lives
  * here: the unresolved catalog identifier (`df.writeTo("cat.db.t")`
  * or, under a current graft catalog, `df.writeTo("db.t")` — the
  * lookup follows Spark's own catalog-first-then-current rule).
  *
  * The rule COMMITS NOTHING. It resolves the append's target itself,
  * against the UNCOMMITTED merged schema
  * ([[graft.sinks.ManifestTable.mergedSchemaPreview]]): resolution
  * then conforms the query to the merged shape, and the evolution
  * commits INSIDE the write — the V1 bridge's auto-merge path routes
  * to [[graft.sinks.ManifestTable.writeMergeSchema]], whose failed
  * landing COMPENSATES the evolution away. An append plan that is
  * analyzed but never executed therefore leaves the table untouched
  * (the old rule's evolve-during-analysis window is gone), and a
  * failed append leaves the schema unchanged.
  *
  * The sibling surfaces route elsewhere: path-source appends
  * (`df.write.format("graft").save(root)`) report the batch's own
  * schema via external metadata, so their gate is the V1 write bridge
  * itself (routed to `writeMergeSchema`); SQL `MERGE INTO ... WITH
  * SCHEMA EVOLUTION` rides the table's `AUTOMATIC_SCHEMA_EVOLUTION`
  * capability through Spark's own analyzer rule into
  * `catalog.alterTable`; the streaming sink takes a `mergeSchema`
  * option. */
case class GraftSchemaMergeRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def autoMergeOn(writeOptions: Map[String, String]): Boolean =
    writeOptions.collectFirst {
      case (k, v) if k.equalsIgnoreCase("mergeSchema") => v.toBoolean
    }.getOrElse(spark.conf
      .get("spark.graft.schema.autoMerge", "false").toBoolean)

  /** The graft-catalog manifest table behind a (possibly partial)
    * identifier, under Spark's own lookup rule: a first part naming a
    * catalog wins; otherwise the CURRENT catalog resolves the parts
    * as namespace + name (a bare 1-part name resolves in the current
    * namespace) — so `writeTo("db.t")` under `USE graft` auto-merges
    * without a catalog prefix. Anything that is not a graft-catalog
    * manifest table is None and the append proceeds to resolve (or
    * fail) on its own. */
  private def resolveGraftTable(parts: Seq[String])
      : Option[(CatalogPlugin, Identifier,
                graft.sources.v2.GraftTable)] = {
    if (parts.isEmpty) return None
    val cm = spark.sessionState.catalogManager
    // Spark's own lookup order, faithfully — a rewrite that resolves
    // a DIFFERENT table than vanilla resolution would silently move
    // the rows: a temp view (or the global-temp database) shadows
    // everything, and a first part that NAMES A CATALOG owns the
    // identifier even when that catalog is not graft's (no fallback
    // to the current catalog — Spark would not fall back either).
    if (parts.length == 1 && spark.sessionState.catalog
        .getRawTempView(parts.head).isDefined) return None
    if (parts.length > 1 && parts.head.equalsIgnoreCase(
        spark.conf.get("spark.sql.globalTempDatabase", "global_temp")))
      return None
    // only a MISSING catalog falls back to the current one (Spark's
    // rule); a registered catalog that fails to load must surface its
    // own error through normal resolution, never silently reroute the
    // append to a same-named table in the current catalog
    val headCatalog: Option[CatalogPlugin] =
      if (parts.length > 1)
        try Some(cm.catalog(parts.head))
        catch {
          case _: org.apache.spark.sql.connector.catalog
            .CatalogNotFoundException => None
        }
      else None
    val (plugin, ns, name) = headCatalog match {
      case Some(c) => (c, parts.tail.init.toArray, parts.last)
      case None => (cm.currentCatalog,
        if (parts.length == 1) cm.currentNamespace
        else parts.init.toArray,
        parts.last)
    }
    plugin match {
      case g: graft.sources.v2.GraftCatalog =>
        val ident = Identifier.of(ns, name)
        try g.loadTable(ident) match {
          case t: graft.sources.v2.GraftTable if t.writable =>
            Some((plugin, ident, t))
          case _ => None
        } catch { case _: Exception => None }
      case _ => None
    }
  }

  /** The append query's schema — the rule runs in the HINTS batch,
    * where a DataFrame writer's raw logical plan is still unresolved,
    * so an unresolved query analyzes as its own self-contained
    * subtree (it references nothing of the target). Unanalyzable
    * (genuinely unresolvable) queries return None and the append
    * proceeds to fail with the analyzer's own error.
    *
    * Memoized by plan IDENTITY, not structural equality: the Hints
    * batch iterates to fixed point over the same plan INSTANCE (that
    * repeat is what the memo saves), while a structurally-identical
    * plan from a LATER statement may resolve differently — a temp
    * view redefined in between must re-analyze, never serve a stale
    * schema. The value carries a weak ref to its exact key instance
    * for the identity check (WeakHashMap itself compares by equals),
    * and the analysis runs OUTSIDE the map's monitor so concurrent
    * appends never serialize behind each other's analyzer pass. */
  private val schemaCache = new java.util.WeakHashMap[LogicalPlan,
    (java.lang.ref.WeakReference[LogicalPlan],
      Option[org.apache.spark.sql.types.StructType])]()
  private def querySchema(q: LogicalPlan)
      : Option[org.apache.spark.sql.types.StructType] =
    if (q.resolved) Some(q.schema)
    else {
      val hit = schemaCache.synchronized(Option(schemaCache.get(q)))
      hit match {
        case Some((ref, s)) if ref.get() != null && (ref.get() eq q) => s
        case _ =>
          val s = scala.util.Try(
            spark.sessionState.executePlan(q).analyzed.schema).toOption
          schemaCache.synchronized {
            schemaCache.put(q,
              (new java.lang.ref.WeakReference(q), s)): Unit
          }
          s
      }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    // unresolved catalog identifier (`df.writeTo("cat.db.t")`): when
    // the batch demands evolution, resolve the relation HERE with the
    // merged schema reported (uncommitted) — by-name output
    // resolution then conforms the query against it, and the write
    // itself commits the evolution (compensated on failure). A batch
    // matching the table passes through for normal resolution
    // untouched. (Path-source appends never come through here: their
    // relation reports the batch's own schema via external metadata,
    // and the write bridge itself routes to writeMergeSchema.)
    case a @ AppendData(u: UnresolvedRelation, query, opts, true, _, _)
        if autoMergeOn(opts) =>
      (for {
        (cat, ident, table) <- resolveGraftTable(u.multipartIdentifier)
        qs <- querySchema(query)
      } yield {
        val cs = spark.conf
          .get("spark.sql.caseSensitive", "false").toBoolean
        if (!graft.sinks.ManifestTable
            .needsMergeEvolution(table.schema(), qs, cs)) a
        else {
          val merged = graft.sinks.ManifestTable
            .mergedSchemaPreview(table.schema(), qs, cs)
          // the relation carries NO options — the append's own write
          // options live on the AppendData node, and V2Writes asserts
          // the two are never both present
          a.copy(table = DataSourceV2Relation.create(
            table.withDataSchema(merged), Some(cat), Some(ident)))
        }
      }).getOrElse(a)
  }
}
