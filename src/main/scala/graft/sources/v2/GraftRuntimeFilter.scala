package graft.sources.v2

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.Partitioning
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType

/** RUNTIME FILE FILTERING (dynamic "partition" pruning at the FILE
  * grain — the Iceberg `SparkBatchQueryScan` shape): the scan declares
  * the columns the manifest can prove things about (tracked stats
  * envelopes, bloom bits, bucket keys), and Spark's dynamic-pruning
  * planner feeds it the BUILD side's join-key values at runtime —
  * a `dim.filter(...) ⋈ fact` join then reads only the fact files
  * whose envelopes/blooms/buckets can hold the surviving keys, files
  * static planning had no way to skip (the probe values exist only
  * after the dim side runs).
  *
  * The runtime predicates re-run the SAME proof engine the static
  * pushdown uses ([[GraftManifestFileIndex.listFiles]] — envelope
  * proofs, bloom exclusion, bucket-grid pruning), so there is exactly
  * one notion of "provably unmatching" in the source; this wrapper
  * only drops the delegated plan's files that fall outside the kept
  * set. Everything survives the drop untouched: deletion-vector and
  * equality-probe partitions keep their sidecars, bucket partitions
  * keep their cells (a fully-pruned cell stays as an EMPTY partition,
  * so storage-partitioned joins keep their aligned partition values —
  * DPP and SPJ compose), and the reader factory passes through
  * verbatim.
  *
  * Scale shape: the filter evaluation is one driver-side pass over the
  * |files|-row manifest stats (metadata-scale, like planning itself);
  * at 100 TB this is the difference between scanning the fact's every
  * file and scanning the handful a 50-row dim probe can actually
  * touch.
  */
final class GraftRuntimeFilterScanBuilder(
    inner: ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownCatalystFilters,
    attrs: Seq[String],
    toPhysical: String => String,
    keptPaths: Seq[Expression] => Set[String],
    exactRows: Option[Long] = None,
    colStats: () => Map[String,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      () => Map.empty,
    limitSink: Option[Int => Unit] = None,
    topNSink: Option[GraftTopN => Unit] = None)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner.pushFilters(filters)
  override def pushedFilters: Array[Predicate] = inner.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)

  /** LIMIT pushdown — Spark offers a limit only below filter-free
    * plans; the sink parks it where the manifest file index trims the
    * listing to the shortest exact-count prefix covering it
    * ([[GraftManifestFileIndex.limitFiles]]). Always PARTIAL: the
    * scan guarantees AT LEAST `limit` live rows survive (all of them
    * when counts can't prove coverage), and the retained limit
    * operator does the exact slice. */
  override def pushLimit(limit: Int): Boolean = limitSink match {
    case Some(sink) => sink(limit); true
    case None => false
  }

  /** TOP-N pushdown (`ORDER BY k[, ...] LIMIT n` with no filter): the
    * LEADING sort key parks as a [[GraftTopN]] for the index's
    * envelope-ordered file pruning ([[GraftManifestFileIndex]]) — on
    * a range-clustered key the n smallest/largest rows provably live
    * in the leading/trailing files alone. A MULTI-KEY sort needs no
    * tuple bound: a file excluded on the first key alone is sound,
    * because ≥ n rows carry a strictly smaller (or, NULLS FIRST,
    * NULL) leading key and every one of them precedes the file's
    * every row LEXICOGRAPHICALLY regardless of tie-breaker columns —
    * so the proof runs on the leading key and the trailing keys ride
    * free. Always PARTIAL: Spark keeps the full Sort + Limit, so the
    * scan only ever needs to prove which files CANNOT hold a top-n
    * row, never the order itself. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = topNSink match {
    case Some(sink) if orders.nonEmpty =>
      orders(0).expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          sink(GraftTopN(toPhysical(nr.fieldNames()(0)),
            orders(0).direction() ==
              org.apache.spark.sql.connector.expressions.SortDirection
                .ASCENDING,
            orders(0).nullOrdering() ==
              org.apache.spark.sql.connector.expressions.NullOrdering
                .NULLS_FIRST,
            limit))
          true
        case _ => false
      }
    case _ => false
  }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = inner.build() match {
    // the wrapper must not COST the scan its reported partitioning —
    // a bucketed inner keeps storage-partitioned joins through the
    // partitioning-forwarding variant
    case s: SupportsReportPartitioning =>
      new GraftRuntimeFilterPartitionedScan(s, attrs, toPhysical,
        keptPaths, exactRows, colStats)
    case s =>
      new GraftRuntimeFilterScan(s, attrs, toPhysical, keptPaths,
        exactRows, colStats)
  }
}

object GraftRuntimeFilterScan {
  /** Plan-introspection helper: the scan under the wrapper (identity
    * for unwrapped scans). */
  def unwrap(s: Scan): Scan = s match {
    case r: GraftRuntimeFilterScan => r.innerScan
    case other => other
  }
}

sealed class GraftRuntimeFilterScan(
    inner: Scan, attrs: Seq[String],
    toPhysical: String => String,
    keptPaths: Seq[Expression] => Set[String],
    exactRows: Option[Long] = None,
    colStats: () => Map[String,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      () => Map.empty)
  extends Scan with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  private[v2] def innerScan: Scan = inner

  /** Canonical paths surviving the runtime predicates — None until
    * (unless) Spark calls [[filter]]. */
  @volatile private var kept: Option[Set[String]] = None

  /** Files the LAST build planned after runtime filtering (test
    * hook; −1 until a filtered plan ran). */
  @volatile private[graft] var lastPlannedFiles: Int = -1

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String =
    s"GraftRuntimeFilterable(${inner.description()})"

  override def filterAttributes(): Array[NamedReference] = {
    // only columns the scan still OUTPUTS: Spark's dynamic-pruning
    // planner resolves these against the scan's post-pruning output
    // and THROWS on a miss (V2ExpressionUtils.resolveRef) — a provable
    // column the projection dropped must simply not be offered
    val out = inner.readSchema().fieldNames.toSet
    attrs.filter(out.contains).map(Expressions.column).toArray
  }

  /** Translate the runtime predicates (the dynamic-pruning planner
    * sends `IN`/`=` over one column with literal values) to catalyst
    * conjuncts over PHYSICAL attribute names — the language the
    * manifest proofs speak — and intersect the kept file set. Shapes
    * this can't read are ignored (pruning is an optimization; the
    * filters re-apply above the scan regardless). */
  override def filter(predicates: Array[Predicate]): Unit = {
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Literal] = e match {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        Some(Literal(l.value, l.dataType))
      case _ => None
    }
    def ref(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    val conjuncts: Seq[Expression] = predicates.toSeq.flatMap { p =>
      val cs = p.children()
      (p.name(), cs.headOption.flatMap(ref)) match {
        case ("IN", Some(name)) if attrs.contains(name) =>
          val vs = cs.drop(1).map(lit)
          if (vs.exists(_.isEmpty) || vs.isEmpty) None
          else Some(In(
            AttributeReference(toPhysical(name),
              vs.head.get.dataType)(),
            vs.map(_.get).toSeq))
        case ("=", Some(name)) if cs.length == 2 && attrs.contains(name) =>
          lit(cs(1)).map(v => EqualTo(
            AttributeReference(toPhysical(name), v.dataType)(), v))
        case _ => None
      }
    }
    if (conjuncts.nonEmpty) {
      val k = keptPaths(conjuncts)
      kept = Some(kept.fold(k)(_ intersect k))
    }
  }

  /** Per-column envelope statistics — computed at most once per scan
    * instance, and ONLY when cost-based optimization asks (the
    * aggregate is one metadata-scale job over the manifest; CBO-off
    * sessions never pay it). */
  private lazy val columnStatistics
      : java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val m = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    colStats().foreach { case (name, cs) =>
      m.put(Expressions.column(name), cs) }
    m
  }

  override def estimateStatistics(): Statistics = {
    val base = inner match {
      case s: SupportsReportStatistics => Some(s.estimateStatistics())
      case _ => None
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        base.map(_.sizeInBytes()).getOrElse(java.util.OptionalLong.empty())
      // the manifest's exact row count fills in where the delegated
      // scan reports nothing (join planning then sees rows, not just
      // bytes); a DV-aware inner's exact live count always wins
      override def numRows(): java.util.OptionalLong = {
        val b = base.map(_.numRows())
          .getOrElse(java.util.OptionalLong.empty())
        if (b.isPresent) b
        else exactRows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      }
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        if (org.apache.spark.sql.internal.SQLConf.get.cboEnabled)
          columnStatistics
        else java.util.Collections.emptyMap()
    }
  }

  override def toBatch: Batch = {
    val ib = inner.toBatch
    val keepNow = kept
    keepNow match {
      case None => ib
      case Some(keep) =>
        new Batch {
          private def canon(p: String): String =
            new org.apache.hadoop.fs.Path(p).toUri.getPath
          private def keepFile(
              pf: org.apache.spark.sql.execution.datasources.PartitionedFile)
              : Boolean = keep.contains(canon(pf.filePath.toString))
          /** Drop excluded files; partition KINDS survive untouched
            * (empty bucket cells keep SPJ's value alignment). */
          private def prune(p: InputPartition): Option[InputPartition] =
            p match {
              case fp: FilePartition =>
                val fs = fp.files.filter(keepFile)
                if (fs.isEmpty) None
                else Some(FilePartition(fp.index, fs))
              case GraftDvCleanPartition(fp: FilePartition) =>
                val fs = fp.files.filter(keepFile)
                if (fs.isEmpty) None
                else Some(GraftDvCleanPartition(FilePartition(fp.index, fs)))
              case dv: GraftDvFilePartition =>
                if (dv.inner.files.forall(keepFile)) Some(dv) else None
              case b: GraftBucketPartition =>
                // keep the cell itself — partition values must align
                Some(b.copy(parts = b.parts.flatMap(prune)))
              case other => Some(other) // unknown shapes pass through
            }
          private lazy val planned: Array[InputPartition] = {
            val ps = ib.planInputPartitions().flatMap(prune)
            lastPlannedFiles = ps.map {
              case fp: FilePartition => fp.files.length
              case GraftDvCleanPartition(fp: FilePartition) =>
                fp.files.length
              case dv: GraftDvFilePartition => dv.inner.files.length
              case b: GraftBucketPartition => b.parts.map {
                case fp: FilePartition => fp.files.length
                case GraftDvCleanPartition(fp: FilePartition) =>
                  fp.files.length
                case dv: GraftDvFilePartition => dv.inner.files.length
                case _ => 0
              }.sum
              case _ => 0
            }.sum
            ps
          }
          override def planInputPartitions(): Array[InputPartition] =
            planned
          override def createReaderFactory(): PartitionReaderFactory =
            ib.createReaderFactory()
        }
    }
  }
}

/** [[GraftRuntimeFilterScan]] over an inner scan that reports a
  * partitioning (a bucketed table) — forwards the report so dynamic
  * file pruning and storage-partitioned joins compose. */
final class GraftRuntimeFilterPartitionedScan(
    inner: Scan with SupportsReportPartitioning, attrs: Seq[String],
    toPhysical: String => String,
    keptPaths: Seq[Expression] => Set[String],
    exactRows: Option[Long] = None,
    colStats: () => Map[String,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      () => Map.empty)
  extends GraftRuntimeFilterScan(inner, attrs, toPhysical, keptPaths,
    exactRows, colStats)
  with SupportsReportPartitioning {
  override def outputPartitioning(): Partitioning =
    inner.outputPartitioning()
}
