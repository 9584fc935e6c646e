package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** Planner-integrated data skipping for plain parquet directories —
  * the Delta/Iceberg ergonomics: after [[graft.sinks.ManifestTable
  * .adopt]] mirrors a directory's files in a manifest table and a
  * one-time [[GraftTables.register]] names it, a plain
  * `spark.read.parquet(dir).filter(...)` prunes files at PLANNING time
  * with no API opt-in, from the manifest's per-file envelopes and
  * bloom bits ([[graft.sinks.ManifestTable.buildBloom]]).
  *
  * Soundness is exclusion-by-proof over the scan's OWN listing: a
  * file is dropped only when a manifest entry for that exact file
  * proves no row can match (stats envelope misses the conjunct's
  * range, or the bloom filter denies every probed key — blooms have
  * no false negatives). Files landed after the last adopt (no entry)
  * and entries for since-deleted files (they exclude nothing from a
  * listing they don't appear in) both degrade to "keep" — the rule is
  * correct under ANY staleness, and adopting only governs how much is
  * pruned. Spark still applies the full predicate to surviving rows,
  * so a kept-but-unmatching file costs I/O, never wrong rows.
  *
  * Scale shape: the planning-time cost is metadata-scale queries over
  * the |files|-row manifest per registered scan — the same
  * listing-order cost Delta pays against its log,
  * independent of data volume. The pruned index DELEGATES to the
  * original file index, so directory-partition pruning, schema, and
  * locality compose unchanged.
  */
object GraftTables {

  /** A plain parquet directory and the manifest table at `root` that
    * mirrors it ([[graft.sinks.ManifestTable.adopt]]). */
  final case class Entry(dataDir: String, root: String)

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private[plans] def canon(p: String): String = new Path(p).toUri.getPath

  /** Register `dataDir`'s adopted manifest table. Idempotent;
    * re-registering replaces the entry. */
  def register(dataDir: String, root: String): Unit =
    tables.put(canon(dataDir), Entry(dataDir, root)): Unit

  def unregister(dataDir: String): Unit = tables.remove(canon(dataDir)): Unit
  def clear(): Unit = { tables.clear(); graft.util.EpochCache.clear() }

  /** Single-root lookup — the exact-coverage consumers
    * ([[MetaAggRule]]) need ONE metadata identity whose stats cover
    * one listing. */
  private[plans] def lookup(rootPaths: Seq[Path]): Option[Entry] =
    rootPaths match {
      case Seq(one) => Option(tables.get(one.toUri.getPath))
      case _ => None // multi-root scans: no single metadata identity
    }

  /** Every registered entry among a scan's roots — a MULTI-ROOT scan
    * (`spark.read.parquet(a, b)`) prunes each registered root
    * independently: an entry's proofs only ever name files its own
    * stats rows list, so the union of exclusions is sound, and an
    * unregistered root among the set simply contributes no proofs. */
  private[plans] def lookupAll(rootPaths: Seq[Path]): Seq[Entry] =
    rootPaths.flatMap(p => Option(tables.get(p.toUri.getPath))).toSeq
}

/** A [[FileIndex]] that delegates listing to the scan's original
  * index and drops files the metadata PROVED unmatching. Also the
  * idempotence marker: the rule never re-prunes a relation whose
  * location is already one of these. */
final class GraftPrunedFileIndex(delegate: FileIndex,
                                 excluded: Set[String]) extends FileIndex {
  override def rootPaths: Seq[Path] = delegate.rootPaths
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    delegate.listFiles(partitionFilters, dataFilters).map { pd =>
      pd.copy(files = pd.files.filterNot(f =>
        excluded.contains(f.getPath.toUri.getPath)))
    }
  override def inputFiles: Array[String] =
    delegate.inputFiles.filterNot(p =>
      excluded.contains(new Path(p).toUri.getPath))
  override def refresh(): Unit = delegate.refresh()
  override def sizeInBytes: Long = delegate.sizeInBytes // sound upper bound
  override def partitionSchema: StructType = delegate.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = delegate.metadataOpsTimeNs
}

/** The optimizer rule: for a Filter directly over a registered
  * parquet scan, consult its manifest's envelopes and bloom bits and
  * replace the relation's file index with a pruned delegate. Injected
  * by [[graft.GraftExtensions]]; runs inside the operator-optimization
  * fixed point, so the marker class above keeps it one-shot per scan
  * and the metadata queries it issues (which re-enter the optimizer
  * on an unregistered scan) terminate trivially. */
case class StatsPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (StatsPruneRule.inMetadataQuery.get()) plan
    else plan.transformDown {
      case f @ Filter(cond, l: LogicalRelation) =>
        l.relation match {
          case r: HadoopFsRelation
            if !r.location.isInstanceOf[GraftPrunedFileIndex] =>
            GraftTables.lookupAll(r.location.rootPaths) match {
              case Seq() => f
              case entries =>
                // multi-root scans prune each registered root
                // independently; exclusion sets union soundly (each
                // proof names only its own root's files)
                val excluded = entries
                  .map(e => StatsPruneRule.provablyExcluded(spark, cond, e))
                  .reduce(_ ++ _)
                val pruned = new GraftPrunedFileIndex(r.location, excluded)
                Filter(cond, l.copy(relation =
                  r.copy(location = pruned)(r.sparkSession)))
            }
          case _ => f
        }
    }

}

object StatsPruneRule extends org.apache.spark.internal.Logging {
  /** Re-entrancy guard: the rule (and every other consumer of the
    * shared proof engine) issues metadata queries during planning;
    * those must not be pruned (or recurse). */
  private[graft] val inMetadataQuery: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Conjuncts of a predicate. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  private def scalaLit(l: Literal): Column =
    lit(CatalystTypeConverters.convertToScala(l.value, l.dataType))

  /** Column reference by name, resolved or not: planner callers hand
    * this engine RESOLVED predicates (AttributeReference), while
    * [[graft.sinks.ManifestTable.deleteWhere]] hands it a user
    * Column's UNANALYZED expression (UnresolvedAttribute) — both must
    * yield their proofs. */
  private object Attr {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        Some(u.name)
      case _ => None
    }
  }

  /** Per-column closed bounds (lo, hi) merged from `cond`'s conjuncts
    * (strict bounds relax to closed — sound, marginally less tight),
    * plus per-column equality probe keys (the bloom probes). */
  private def extractBounds(cond: Expression)
      : (Map[String, Column], Map[String, Column], Map[String, List[Column]]) = {
    val lows = scala.collection.mutable.Map.empty[String, List[Column]]
    val highs = scala.collection.mutable.Map.empty[String, List[Column]]
    val keys = scala.collection.mutable.Map.empty[String, List[Column]]
    def addLo(c: String, v: Column): Unit =
      lows(c) = v :: lows.getOrElse(c, Nil)
    def addHi(c: String, v: Column): Unit =
      highs(c) = v :: highs.getOrElse(c, Nil)
    def addKeys(c: String, vs: List[Column]): Unit =
      keys(c) = vs ::: keys.getOrElse(c, Nil)
    conjuncts(cond).foreach {
      case EqualTo(Attr(a), v: Literal) =>
        addLo(a, scalaLit(v)); addHi(a, scalaLit(v)); addKeys(a, List(scalaLit(v)))
      case EqualTo(v: Literal, Attr(a)) =>
        addLo(a, scalaLit(v)); addHi(a, scalaLit(v)); addKeys(a, List(scalaLit(v)))
      case GreaterThan(Attr(a), v: Literal) => addLo(a, scalaLit(v))
      case GreaterThanOrEqual(Attr(a), v: Literal) => addLo(a, scalaLit(v))
      case LessThan(Attr(a), v: Literal) => addHi(a, scalaLit(v))
      case LessThanOrEqual(Attr(a), v: Literal) => addHi(a, scalaLit(v))
      case GreaterThan(v: Literal, Attr(a)) => addHi(a, scalaLit(v))
      case GreaterThanOrEqual(v: Literal, Attr(a)) => addHi(a, scalaLit(v))
      case LessThan(v: Literal, Attr(a)) => addLo(a, scalaLit(v))
      case LessThanOrEqual(v: Literal, Attr(a)) => addLo(a, scalaLit(v))
      case In(Attr(a), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        addKeys(a, vs.map(v => scalaLit(v.asInstanceOf[Literal])).toList)
      case InSet(ar: AttributeReference, vs) => // post-optimizer shape only
        addKeys(ar.name, vs.toList.map(v => lit(
          CatalystTypeConverters.convertToScala(v, ar.dataType))))
      case _ => () // unsupported conjunct: contributes no proof
    }
    (lows.view.mapValues(_.reduce((x, y) =>
        org.apache.spark.sql.functions.greatest(x, y))).toMap,
      highs.view.mapValues(_.reduce((x, y) =>
        org.apache.spark.sql.functions.least(x, y))).toMap,
      keys.toMap)
  }

  /** Envelope proofs against an EXPLICIT stats frame (FileStats shape:
    * path, row_count, c_min/c_max/c_nulls per tracked column) —
    * canonical paths of files the envelopes PROVE cannot match `cond`.
    * Shared by the planner rule, the DSv2 listing, and
    * [[graft.sinks.ManifestTable]]'s file-granular row-level ops
    * (whose manifest rows are themselves this shape). Throws on
    * schema drift — callers decide whether a failed proof degrades
    * (pruning: keep everything) or aborts. */
  private[graft] def excludedByEnvelopes(spark: SparkSession,
                                         cond: Expression,
                                         stats: DataFrame,
                                         statsCols: Seq[String]): Set[String] = {
    // ANALYZED-but-unoptimized conditions (the row-level ops resolve
    // user predicates against an empty frame, SQL literals arrive as
    // Cast(Literal)) need expression-level constant folding before
    // the bound extraction's strict Literal matches can see them —
    // the pushed-filter callers get this for free from the optimizer.
    // Foldable-but-Unevaluable expressions exist (current_timestamp/
    // current_date are only substituted by the optimizer's
    // ComputeCurrentTime, which never runs here) — a failed eval
    // keeps the expression unfolded, which degrades to no proof from
    // that conjunct, never to a failed statement
    val folded = cond.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        try Literal.create(e.eval(null), e.dataType)
        catch { case _: RuntimeException => e }
    }
    val (lows, highs, _) = extractBounds(folded)
    val ranges = statsCols.flatMap { c =>
      val lo = lows.get(c)
      val hi = highs.get(c)
      if (lo.isEmpty && hi.isEmpty) None
      // an open side becomes a NULL bound (NullType coerces to the
      // envelope's type): its comparison is unknown, and
      // candidateFilesAll's explicit `<=> true` proofs treat
      // unknown as "keep" — an open bound prunes nothing, soundly
      else Some((c, lo.getOrElse(lit(null)), hi.getOrElse(lit(null))))
    }
    if (ranges.isEmpty) Set.empty
    else {
      val all = stats.select("path").collect()
        .map(r => GraftTables.canon(r.getString(0))).toSet
      val kept = graft.sources.FileStats
        .candidateFilesAll(stats, ranges)
        .collect().map(r => GraftTables.canon(r.getString(0))).toSet
      all -- kept
    }
  }

  /** Dual of [[excludedByEnvelopes]]: canonical paths of files whose
    * envelopes PROVE every row matches `cond` — the whole-file grain
    * of DELETE / replaceWhere (Iceberg's metadata delete, Delta's
    * partition-aligned drop, generalized to any clustered layout): a
    * proven file leaves the manifest BY REFERENCE, zero data I/O —
    * the retention-delete shape a 100 TB time-clustered table needs.
    *
    * Sound under SQL's three-valued DELETE semantics: a row where
    * `cond` is NULL is KEPT, so a file qualifies only when (a) the
    * structural subsumption proof below evaluates TRUE on its
    * envelope and (b) every column `cond` references has ZERO nulls
    * in the file — with null-free operands these comparison shapes
    * are two-valued, so "not FALSE anywhere" and "no NULL anywhere"
    * together give "TRUE everywhere". Subsumption: `a < v` holds for
    * every row iff `a_max < v`, equality iff the envelope is the
    * point, And/Or/Not recurse (Or sufficiently: one branch covering
    * every row covers the disjunction; its dual, every-row-FAILS,
    * needs both branches). Any unsupported shape, untracked column,
    * or unknown envelope cell (NULL min/max under the `<=> true`
    * gate) yields no proof — the file degrades to the rewrite path,
    * never to a wrong drop. */
  private[graft] def wholeFileMatched(cond: Expression,
                                      stats: DataFrame,
                                      statsCols: Seq[String]): Set[String] = {
    import org.apache.spark.sql.functions.col
    // same pre-fold as excludedByEnvelopes: SQL literals arrive as
    // Cast(Literal); foldable-but-unevaluable stays unfolded (no proof)
    val folded = cond.transformUp {
      case e if e.foldable && !e.isInstanceOf[Literal] =>
        try Literal.create(e.eval(null), e.dataType)
        catch { case _: RuntimeException => e }
    }
    // normalize literal-first comparisons so the proofs below see one
    // shape (literal-vs-literal no longer exists: folded above)
    val norm = folded.transformUp {
      case LessThan(v: Literal, a) => GreaterThan(a, v)
      case LessThanOrEqual(v: Literal, a) => GreaterThanOrEqual(a, v)
      case GreaterThan(v: Literal, a) => LessThan(a, v)
      case GreaterThanOrEqual(v: Literal, a) => LessThanOrEqual(a, v)
      case EqualTo(v: Literal, a) => EqualTo(a, v)
    }
    val refs = norm.collect {
      case a: AttributeReference => a.name
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.name
    }.distinct
    if (refs.isEmpty || !refs.forall(statsCols.contains)) return Set.empty
    // every-row-MATCHES / every-row-FAILS proofs over one stats row,
    // mutually recursive through Not; None = not provable. The
    // IsNull/IsNotNull leaves lean on the null-free gate ANDed into
    // the final filter (their column is in `refs` by construction).
    def matches(e: Expression): Option[Column] = e match {
      case And(l, r) => for (a <- matches(l); b <- matches(r)) yield a && b
      case Or(l, r) => (matches(l), matches(r)) match {
        case (None, None) => None
        case (a, b) => Some(Seq(a, b).flatten.reduce(_ || _))
      }
      case Not(x) => fails(x)
      case LessThan(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") < scalaLit(v))
      case LessThanOrEqual(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") <= scalaLit(v))
      case GreaterThan(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") > scalaLit(v))
      case GreaterThanOrEqual(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") >= scalaLit(v))
      case EqualTo(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") >= scalaLit(v) &&
          col(s"${a}_max") <= scalaLit(v))
      case In(ae, vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        // every row ∈ {v…} is provable per file when the whole
        // envelope is ONE of the points (a file mixing two members
        // honestly rewrites — the common partition-per-value layout
        // never mixes); sufficient, like the Or case
        val per = vs.map(v =>
          matches(EqualTo(ae, v.asInstanceOf[Literal])))
        if (per.exists(_.isEmpty)) None
        else Some(per.flatten.reduce(_ || _))
      case IsNotNull(Attr(_)) => Some(lit(true))
      case Literal(true, org.apache.spark.sql.types.BooleanType) =>
        Some(lit(true))
      case _ => None
    }
    def fails(e: Expression): Option[Column] = e match {
      case And(l, r) => (fails(l), fails(r)) match {
        case (None, None) => None
        case (a, b) => Some(Seq(a, b).flatten.reduce(_ || _))
      }
      case Or(l, r) => for (a <- fails(l); b <- fails(r)) yield a && b
      case Not(x) => matches(x)
      case LessThan(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") >= scalaLit(v))
      case LessThanOrEqual(Attr(a), v: Literal) =>
        Some(col(s"${a}_min") > scalaLit(v))
      case GreaterThan(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") <= scalaLit(v))
      case GreaterThanOrEqual(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") < scalaLit(v))
      case EqualTo(Attr(a), v: Literal) =>
        Some(col(s"${a}_max") < scalaLit(v) ||
          col(s"${a}_min") > scalaLit(v))
      case In(Attr(a), vs) if vs.nonEmpty &&
          vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map { v =>
          val c = scalaLit(v.asInstanceOf[Literal])
          col(s"${a}_max") < c || col(s"${a}_min") > c
        }.reduce(_ && _))
      case IsNull(Attr(_)) => Some(lit(true))
      case Literal(false, org.apache.spark.sql.types.BooleanType) =>
        Some(lit(true))
      case _ => None
    }
    matches(norm) match {
      case None => Set.empty
      case Some(proof) =>
        val nullFree = refs.map(c => col(s"${c}_nulls") === lit(0L))
          .reduce(_ && _)
        stats.filter((proof && nullFree) <=> lit(true)).select("path")
          .collect().map(r => GraftTables.canon(r.getString(0))).toSet
    }
  }

  /** EPOCH-KEYED proofs: the planning-time metadata queries
    * (collects per registered scan) are re-issued for every plan of a
    * hot table, so identical proofs memoize. The key carries the
    * CURRENT manifest epoch's key (one commit-record read, no Spark
    * job) plus the canonicalized predicate — a commit, or a re-created
    * root, changes the epoch's claim, so staleness is structural: a
    * cached entry can only ever be served for the exact epoch it was
    * proven against (Delta caches its snapshot state the same way). Entries
    * live in [[graft.util.EpochCache]]; an unresolvable predicate
    * simply skips the cache. The second identical query on an
    * unchanged table issues ZERO metadata jobs (PlanSpec-counted). */
  private val Proofs =
    new graft.util.EpochCache.Kind[Set[String]](s => 1024L + 128L * s.size)

  /** Uncached proof computations (each costs the metadata jobs) —
    * test-visible, so the cache contract is pinned directly: a cache
    * hit must leave this untouched. */
  private[graft] val proofComputations = new java.util.concurrent.atomic.AtomicLong(0L)

  private def proven(epoch: graft.sinks.VersionedTable.EpochKey, cond: Expression)
                    (compute: => Set[String]): Set[String] = {
    // exprIds are fresh per reader instantiation — key on the
    // id-stripped canonical form so identical predicates from
    // separate reads of the same table hit the same entry
    val key =
      try Some((epoch,
        cond.canonicalized.toString.replaceAll("#\\d+", "")))
      catch { case _: Exception => None }
    def run(): Set[String] = { proofComputations.incrementAndGet(): Unit; compute }
    key match {
      case Some(k) => graft.util.EpochCache.getOrElseUpdate(Proofs, k)(run())
      case None => run()
    }
  }

  /** Canonical paths of files whose bloom bits in manifest `m` (the
    * `<column>_bloom` cells [[graft.sinks.ManifestTable.buildBloom]]
    * fills) deny EVERY key `cond` probes on some column — empty when
    * `cond` probes no column with bits. A NULL cell (the file is not
    * indexed) proves nothing. */
  private[graft] def excludedByBloom(spark: SparkSession, cond: Expression,
                                     m: DataFrame): Set[String] = {
    import graft.sinks.ManifestTable.bloomCol
    val denials = extractBounds(cond)._3.toSeq.collect {
      case (c, keys) if m.columns.contains(bloomCol(c)) =>
        val bits = org.apache.spark.sql.functions.col(bloomCol(c))
        bits.isNotNull &&
          !graft.sources.FileBloomIndex.mightContain(bits, keys)
    }
    if (denials.isEmpty) Set.empty
    else {
      graft.functions.VectorExpressions.ensureRegistered(spark)
      m.filter(denials.reduce(_ || _)).select("path").collect()
        .map(r => GraftTables.canon(r.getString(0))).toSet
    }
  }

  /** Canonical paths of files one manifest PROVES cannot match `cond`:
    * its envelope proofs over `statsCols` plus its bloom proofs. */
  private[graft] def excludedByManifest(spark: SparkSession, cond: Expression,
                                        m: DataFrame,
                                        statsCols: Seq[String]): Set[String] =
    excludedByEnvelopes(spark, cond, m, statsCols) ++
      excludedByBloom(spark, cond, m)

  /** Canonical paths of files the registered directory's manifest
    * PROVES cannot match `cond` ([[excludedByManifest]]), memoized per
    * (manifest epoch, predicate). Any failure (a missing manifest,
    * schema drift) logs and excludes nothing — pruning is an
    * optimization, never a correctness dependency. */
  private[graft] def provablyExcluded(spark: SparkSession, cond: Expression,
                                      entry: GraftTables.Entry): Set[String] = {
    import graft.sinks.ManifestTable
    StatsPruneRule.inMetadataQuery.set(true)
    try {
      val v = ManifestTable.latestVersion(spark, entry.root)
      if (v < 0) Set.empty
      else {
        val rec = ManifestTable.recordAt(spark, entry.root, v)
        proven(rec.key, cond) {
          excludedByManifest(spark, cond, ManifestTable.manifest(spark, rec),
            ManifestTable.statsCols(spark, rec))
        }
      }
    } catch {
      case e: Exception =>
        logWarning(s"graft stats pruning skipped for ${entry.dataDir}: $e")
        Set.empty
    } finally StatsPruneRule.inMetadataQuery.set(false)
  }

}
