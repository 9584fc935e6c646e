package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit, max, min, sum, when}

/** Metadata-only aggregates in the PLANNER — the Delta/Iceberg
  * "COUNT(*) answered from the manifest" ergonomics: a whole-table
  * `COUNT(*)/COUNT(c)/MIN(c)/MAX(c)` aggregate over a manifest table
  * (`format("graft")` / catalog reads) or a [[GraftTables]]-registered
  * plain directory (its adopted manifest, [[graft.sinks.ManifestTable
  * .adopt]]) collapses at optimization time to a [[LocalRelation]]
  * holding the answer computed from the manifest's per-file entries —
  * zero data I/O, no scan stage, independent of table size. The
  * API-level twin is [[graft.sources.FileStats.tableSummary]]; this
  * rule is what makes a user's plain `spark.read.parquet(dir).agg(...)`
  * get the same answer for free.
  *
  * Exactness is PROVEN per query, never assumed: over a plain
  * directory the rewrite fires only when the manifest's path set
  * covers EXACTLY the scan's own live file listing (one
  * metadata-scale set comparison — the same listing the scan would
  * use; a file landed after the last adopt routes to the scan), each
  * path appears once, and every consulted PER-FILE summary cell is
  * proven usable (footer-collected stats may record NULL = "unknown"
  * for writer-omitted columns; one
  * unknown cell among known ones would make the null-skipping global
  * fold silently wrong, so any unknown cell — except a min/max NULL
  * from a provably all-NULL file — disqualifies: unknown must scan,
  * never guess). Any mismatch, unsupported aggregate shape (DISTINCT,
  * FILTER, grouping keys, untracked column), or interposed Filter
  * leaves the plan untouched — like [[StatsPruneRule]], the metadata
  * path is an optimization, not a correctness dependency.
  *
  * Supported shapes over tracked column c:
  *   COUNT(*)/COUNT(1) = Σ row_count;  COUNT(c) = Σ row_count − Σ
  *   c_nulls;  MIN(c)/MAX(c) = fold of the per-file envelopes (NULL —
  *   SQL's empty/all-NULL answer — when no file has a non-NULL value).
  */
case class MetaAggRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Where the metadata answer comes from: one manifest-table version.
    * Read as a manifest-table snapshot (`format("graft")` / catalog
    * reads) the manifest IS the listing — coverage is structural, no
    * proof query needed. Read as a registered plain directory
    * (`listing` = the scan's own live files), coverage must be PROVEN
    * against that listing. */
  private final class MetaSource(val root: String, version: Long,
                                 listing: Option[Seq[String]] = None) {
    private lazy val raw =
      graft.sinks.ManifestTable.manifest(spark, root, version)
    // manifest stat triplets are keyed by PHYSICAL column name
    // (stable under RENAME COLUMN); the aggregate's attributes speak
    // logical — translate via the version's sidecar (identity for
    // unmapped tables, and a dropped column's orphan stats map to
    // nothing)
    private lazy val physToLogical: Map[String, String] =
      graft.sinks.ManifestTable.tableSchema(spark, root, version)
        .fields.map(f =>
          graft.sinks.ManifestTable.physicalName(f) -> f.name).toMap
    private lazy val physStats: Seq[String] = raw.schema.fieldNames.toSeq
      .filter(_.endsWith("_min")).map(_.stripSuffix("_min"))
    lazy val statsCols: Seq[String] = physStats.flatMap(physToLogical.get)
    // merge-on-read deletion vectors: COUNT(*) stays EXACT (live rows
    // = row_count − dv_rows per file), while a DV-bearing file's
    // envelopes and null counts are only CONSERVATIVE (the deleted
    // rows may have held the extremum / the nulls) — surface those
    // cells as NULL = unknown, and the per-file honesty proof below
    // routes COUNT(c)/MIN/MAX to the scan instead of guessing
    private lazy val frame = {
      val dv = col("dv_rows") > 0L
      val folded = physStats.foldLeft(
        raw.withColumn("row_count", col("row_count") - col("dv_rows"))) {
        (df, c) =>
          Seq(s"${c}_min", s"${c}_max", s"${c}_nulls").foldLeft(df) {
            (d, f) => d.withColumn(f,
              when(dv, lit(null)).otherwise(col(f)))
          }
      }
      // expose the triplets under LOGICAL names (no-op when unmapped)
      physStats.foldLeft(folded) { (df, pc) =>
        physToLogical.get(pc) match {
          case Some(lc) if lc != pc =>
            Seq("_min", "_max", "_nulls").foldLeft(df)((d, sfx) =>
              d.withColumnRenamed(pc + sfx, lc + sfx))
          case _ => df
        }
      }
    }
    def stats(): org.apache.spark.sql.DataFrame = frame
    // PENDING equality deletes live outside the manifest's row counts
    // (they resolve at scan time), so a version carrying them must
    // route to the scan, never answer from stats; a plain scan also
    // needs its live listing == the manifest's paths, each once
    def covered(): Boolean =
      !graft.sinks.ManifestTable.hasPendingEq(spark, root, version) &&
        listing.forall { live =>
          val paths = graft.sinks.ManifestTable.filesAt(spark, root, version)
          paths.length == paths.distinct.length &&
            paths.toSet == live.map(GraftTables.canon).toSet
        }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (StatsPruneRule.inMetadataQuery.get()) plan
    else plan.transformDown {
      case agg @ Aggregate(Nil, aggExprs, child, _) =>
        bareRelation(child) match {
          case Some(src) => tryAnswer(agg, aggExprs, src).getOrElse(agg)
          case None => agg
        }
    }

  /** The scan under the aggregate, seen through at most a pruning
    * Project of plain attributes (what column pruning inserts). Any
    * Filter, join, or computed projection disqualifies. */
  private def bareRelation(p: LogicalPlan): Option[MetaSource] = p match {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation if !r.location.isInstanceOf[GraftPrunedFileIndex] =>
        GraftTables.lookup(r.location.rootPaths).flatMap { entry =>
          val v = graft.sinks.ManifestTable.latestVersion(spark, entry.root)
          if (v < 0) None
          else Some(new MetaSource(entry.root, v, Some(r.location.inputFiles.toSeq)))
        }
      case _ => None
    }
    case d: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      d.table match {
        case t: graft.sources.v2.GraftTable =>
          t.manifestInfo.map { case (root, v) => new MetaSource(root, v) }
        case _ => None
      }
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      bareRelation(child)
    case _ => None
  }

  /** Either Some(LocalRelation answer) or None when any aggregate
    * shape or metadata proof fails. */
  private def tryAnswer(agg: Aggregate, aggExprs: Seq[NamedExpression],
                        source: MetaSource): Option[LogicalPlan] = {
    val entry = source // shape checks below read the tracked columns
    // every output must be a supported, unfiltered, non-distinct
    // aggregate (or a literal riding along)
    sealed trait Need
    case object NRows extends Need
    final case class NCount(c: String) extends Need
    final case class NMin(c: String) extends Need
    final case class NMax(c: String) extends Need
    final case class NLit(v: Literal) extends Need
    val needs: Seq[Option[Need]] = aggExprs.map {
      case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
        fn match {
          // COUNT(NULL) is 0, not Σ row_count — a null literal must
          // not match the COUNT(*) shape (leave it to the scan)
          case Count(Seq(Literal(v, _))) if v != null => Some(NRows)
          case Count(Seq(a: AttributeReference))
            if entry.statsCols.contains(a.name) => Some(NCount(a.name))
          case Min(a: AttributeReference)
            if entry.statsCols.contains(a.name) => Some(NMin(a.name))
          case Max(a: AttributeReference)
            if entry.statsCols.contains(a.name) => Some(NMax(a.name))
          case _ => None
        }
      case Alias(l: Literal, _) => Some(NLit(l))
      case _ => None
    }
    if (needs.exists(_.isEmpty)) return None

    StatsPruneRule.inMetadataQuery.set(true)
    try {
      if (!source.covered()) return None
      val stats = source.stats()
      val wanted = needs.flatten.distinct.filter(!_.isInstanceOf[NLit])
      val cols = wanted.map {
        case NRows => sum(col("row_count")).as("_n_rows")
        case NCount(c) =>
          (sum(col("row_count")) - sum(col(s"${c}_nulls"))).as(s"_cnt_$c")
        case NMin(c) => min(col(s"${c}_min")).as(s"_min_$c")
        case NMax(c) => max(col(s"${c}_max")).as(s"_max_$c")
        case NLit(_) => lit(0).as("_unused") // unreachable (filtered)
      }
      // PER-FILE honesty proof, computed alongside the answers: footer
      // stats emit NULL cells for columns a writer omitted ("unknown"),
      // and sum/min/max silently SKIP nulls — so with a mix of known
      // and unknown files the global fold would return a plausible,
      // silently wrong answer. Disqualify the rewrite unless every
      // consulted cell is provably usable:
      //   - COUNT(c): every file's c_nulls is non-NULL;
      //   - MIN/MAX(c): a file may carry NULL min/max ONLY as a
      //     provable all-NULL file (c_nulls known and == row_count) —
      //     then skipping it is exactly SQL's null-skipping fold.
      val countCols = wanted.collect { case NCount(c) => c }.distinct
      val extremaCols = wanted.collect {
        case NMin(c) => c; case NMax(c) => c }.distinct
      val proofs =
        countCols.map(c => sum(when(col(s"${c}_nulls").isNull, 1L)
          .otherwise(0L)).as(s"_unknown_nulls_$c")) ++
        extremaCols.map(c => sum(when(
          (col(s"${c}_min").isNull || col(s"${c}_max").isNull) &&
            !(col(s"${c}_nulls").isNotNull &&
              (col(s"${c}_nulls") === col("row_count"))), 1L)
          .otherwise(0L)).as(s"_unknown_extrema_$c"))
      val all = cols ++ proofs
      val row: org.apache.spark.sql.Row =
        if (all.isEmpty) org.apache.spark.sql.Row()
        else stats.agg(all.head, all.tail: _*).collect()(0)
      val anyUnknownCell = proofs.indices.exists { i =>
        val v = row.get(cols.length + i)
        v != null && v.asInstanceOf[Long] != 0L // empty stats: Σ = NULL = 0 bad cells
      }
      if (anyUnknownCell) return None
      val byNeed: Map[Need, Any] = wanted.zipWithIndex.map { case (n, i) =>
        val v = row.get(i)
        n match {
          // an empty table's Σ is NULL — COUNT of nothing is 0
          case NRows | NCount(_) => (n: Need) -> (if (v == null) 0L else v)
          // with the per-file proof above, a NULL min/max here means
          // every file is provably all-NULL — SQL's honest NULL answer
          case _ => (n: Need) -> v
        }
      }.toMap
      val values = needs.zip(aggExprs).map {
        case (Some(NLit(l)), _) => l.value // already catalyst
        case (Some(n), ne) =>
          CatalystTypeConverters.createToCatalystConverter(
            ne.dataType)(byNeed(n))
        case (None, _) => return None // unreachable
      }
      Some(LocalRelation(agg.output,
        Seq(InternalRow.fromSeq(values)), isStreaming = false))
    } catch {
      case e: Exception =>
        logWarning(s"graft metadata aggregate skipped for ${source.root}: $e")
        None
    } finally StatsPruneRule.inMetadataQuery.set(false)
  }
}
