package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** INCREMENTAL MATERIALIZED VIEWS over manifest tables — exact
  * aggregates maintained at cost ∝ what changed, not table size.
  *
  * The view is itself an ordinary manifest table (read it, time-travel
  * it, prune it like any other); its definition is a SQL text over the
  * placeholder `__BASE__` plus the GROUP-key columns, e.g.
  *
  * {{{
  *   MaterializedView.create(spark, mvRoot, baseRoot,
  *     "SELECT lang, count(*) AS n, sum(n_chars) AS chars, " +
  *     "min(doc_id) AS first_doc FROM __BASE__ " +
  *     "WHERE n_chars >= 100 GROUP BY lang", Seq("lang"))
  *   ... writes to the base ...
  *   MaterializedView.refresh(spark, mvRoot) // cost ∝ changed groups
  * }}}
  *
  * JOIN definitions — the star-schema MV users actually write
  * (`fact ⋈ dims GROUP BY dim.attr`) — declare each dimension with a
  * placeholder and its equi-join keys:
  *
  * {{{
  *   MaterializedView.create(spark, mvRoot, factRoot,
  *     "SELECT region_name, count(*) AS n, sum(amount) AS total " +
  *     "FROM __BASE__ f JOIN __DIM_regions__ r " +
  *     "ON f.region_id = r.region_id GROUP BY region_name",
  *     Seq("region_name"),
  *     dims = Seq(MaterializedView.JoinDim("regions", dimRoot,
  *       factKeys = Seq("region_id"), dimKeys = Seq("region_id"))))
  * }}}
  *
  * SNOWFLAKE definitions chain one hop further: a dim whose `parent`
  * names another declared dim joins THAT dim instead of the fact
  * (`factKeys` are then the PARENT dim's columns), so
  * `fact ⋈ accounts ⋈ teams GROUP BY team_label` maintains
  * incrementally — a relabel in the dim-of-dim lifts through the
  * chain to the fact rows it governs. EXPRESSION group keys (the time
  * bucket every second MV wants) declare the computing SQL once:
  * `keyExprs = Map("month" -> "date_trunc('month', ts)")` — the
  * expression must be deterministic and resolve against the BASE
  * alone, and the definition must select it under the same name.
  *
  * create() VALIDATES the declared joins against the definition's
  * analyzed plan: each declared dim must appear as a direct relation
  * equi-joined to its declared parent on AT LEAST the declared key
  * pairs (extra equalities or residual predicates only shrink the
  * real join, so the declared-key derivation stays a superset; a
  * join on DIFFERENT columns than declared would silently derive the
  * wrong touched groups — that is exactly what is refused here).
  *
  * Refresh is AFFECTED-KEY RECOMPUTE (the shape that keeps EVERY
  * aggregate exact — min/max/count-distinct included — where
  * delta-folding breaks on deletes): diff the base's (and each dim's)
  * changed FILES between the view's last-refreshed versions and the
  * heads (metadata + changed-file reads only), derive the distinct
  * group keys those changes could have touched, re-run the definition
  * over ONLY those groups' base rows (a semi join — broadcast while
  * the key set is provably small, shuffle past the size gate — which
  * the runtime file filter prunes the base scan by on a key-clustered
  * base), and fold the result into the view as one keyed CDC batch:
  * recomputed groups upsert, vanished groups delete. Groups the
  * changes never touched are never read, never rewritten.
  *
  * For join definitions the touched-group derivation goes THROUGH the
  * declared joins: a changed dim row marks the groups its old and new
  * attribute values name, and the fact rows joining its keys (lifted
  * hop by hop through the declared chain for snowflake dims); group
  * keys may live on the fact or on any declared dim (each key name
  * must be unique across the joined relations and selected through
  * unchanged). The derivation reconstructs the join as LEFT joins — a
  * conservative SUPERSET of the definition's own join (an inner
  * definition contributes no row where the left reconstruction pads
  * NULLs), so it can only recompute extra groups, never miss one;
  * NULL-keyed derivations are dropped (the definition's own output
  * keys are non-null by the create() contract). The recompute itself
  * restricts the FACT by the touched groups' fact-side keys and the
  * touched dim attributes' join keys lifted to the fact (again a
  * superset of the touched groups' membership — every member row of a
  * touched group is included), then keeps exactly the touched groups'
  * recomputed rows.
  *
  * Exactly-once by idempotence: the view commit lands BEFORE the
  * offsets advance, and a crash between the two re-runs the same
  * recompute against the same base/dim versions — same rows, same
  * fold. Group keys must be non-null columns selected through
  * unchanged (the keyed fold and the semi join are equality-keyed);
  * a NULL key in a non-join definition refuses with the fix named. */
object MaterializedView {

  private val StateSub = "_mvdef"

  /** Label the Spark jobs a phase launches (guide §1.5) — AQE's
    * stage-materialization mini-jobs inherit the description through
    * the captured thread locals, so profiling attributes them to the
    * refresh step that planned them instead of a generic future. */
  private def labeled[T](spark: SparkSession, desc: String)(f: => T): T = {
    val prev = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(desc)
    try f finally spark.sparkContext.setJobDescription(prev)
  }

  // ------------------------------------------------ transparent rewrite

  /** Session conf listing the MV roots the analyzer rule
    * ([[graft.plans.GraftMvRewriteRule]]) may substitute for matching
    * aggregate queries over their bases. */
  val RewriteRootsConf = "spark.graft.mv.rewrite.roots"

  /** Opt a view into transparent rewrite for this session: any query
    * whose analyzed plan matches the view's definition over the
    * snapshots the view reflects reads the VIEW's files instead of
    * re-scanning the base. Freshness is implicit — a stale view never
    * matches (the version is part of the match), so enable-then-lag
    * degrades to the direct scan, never to a stale answer. */
  def enableRewrite(spark: SparkSession, mvRoot: String): Unit = {
    val cur = spark.conf.getOption(RewriteRootsConf).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (!cur.contains(mvRoot))
      spark.conf.set(RewriteRootsConf, (cur :+ mvRoot).mkString(","))
  }

  /** Remove a view from the session's rewrite set. */
  def disableRewrite(spark: SparkSession, mvRoot: String): Unit = {
    val cur = spark.conf.getOption(RewriteRootsConf).getOrElse("")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    spark.conf.set(RewriteRootsConf,
      cur.filterNot(_ == mvRoot).mkString(","))
  }

  /** Guards the rule against recursing into the analyses IT runs
    * (candidate re-analysis, view reads). */
  private[graft] val buildingRewrite: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** The root of a graft manifest relation, if `r` is one. */
  private[graft] def graftRootOf(
      r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation)
      : Option[String] =
    r.table match {
      case g: graft.sources.v2.GraftTable => g.manifestInfo.map(_._1)
      case _ => None
    }

  /** Subquery aliases eliminated, graft relations replaced by
    * (root, version) placeholders — the normalization under which two
    * independent reads of the same snapshot compare equal. */
  private[graft] def normalizeForRewrite(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(p)
      .transform {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table match {
            case g: graft.sources.v2.GraftTable
                if g.manifestInfo.isDefined =>
              val (root, v) = g.manifestInfo.get
              graft.plans.GraftRelPlaceholder(root, v, r.output)
            case _ => r
          }
      }

  /** A registered view's definition in matchable form: the canonical
    * child (join/filter subtree over version-pinned placeholder
    * relations), the canonical grouping set, and each output column
    * as (name, canonical aggregate expression with its alias
    * stripped). Name+expression pairs — not whole-plan equality —
    * let a query that selects a SUBSET of the view's columns, or the
    * same columns in a different order, still be served: per-output
    * comparison is sound because both sides' expressions canonicalize
    * against structurally identical children (attribute references
    * normalize to child-output positions), while alias exprIds —
    * which are numbered by position in the select list and so differ
    * between a subset and the full list — are stripped before the
    * compare. */
  private[graft] final case class RewriteCandidate(
      mvRoot: String, baseRoot: String,
      cChild: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      cGrouping: Set[org.apache.spark.sql.catalyst.expressions.Expression],
      cOutputs: Set[(String,
        org.apache.spark.sql.catalyst.expressions.Expression)],
      typesByName: Map[String, org.apache.spark.sql.types.DataType])

  /** An output expression with its alias stripped — the comparable
    * core (alias exprIds are select-list-positional, names ride
    * separately). */
  private[graft] def bareExpr(
      e: org.apache.spark.sql.catalyst.expressions.NamedExpression)
      : org.apache.spark.sql.catalyst.expressions.Expression = e match {
    case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
    case other => other
  }

  // keyed by (mvRoot, the spec sidecar's exact content): offsets
  // advance on every refresh, so staleness self-invalidates. The
  // weight is a flat estimate — a canonical plan is never walked.
  private val RewriteCandidates =
    new graft.util.EpochCache.Kind[Option[RewriteCandidate]](_ => 64L << 10)

  /** The view's definition re-analyzed against the snapshots its
    * offsets name, in canonical normalized form — rebuilt only when
    * the sidecar changes (i.e., per refresh). None when the view is
    * gone, its definition is not a plain aggregate, or a named
    * snapshot is no longer readable (vacuumed mid-lag): the rewrite
    * just stands down, the direct scan stays correct. */
  private[graft] def rewriteCandidate(spark: SparkSession,
                                      mvRoot: String)
      : Option[RewriteCandidate] =
    try {
      val f = fs(spark, mvRoot)
      val p = statePath(mvRoot)
      if (!f.exists(p)) return None
      val in = f.open(p)
      val specTxt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      graft.util.EpochCache.getOrElseUpdate(RewriteCandidates,
          (mvRoot, specTxt)) {
        buildingRewrite.set(true)
        try {
          val spec = readSpec(spark, mvRoot)
          val base = ManifestTable.readVersion(spark, spec.baseRoot,
            spec.lastVersion)
          val dims = spec.dims.map(d => d.dim.name ->
            ManifestTable.readVersion(spark, d.dim.root, d.lastVersion))
          val df = runDef(spark, spec.defSql, base, dims)
          normalizeForRewrite(df.queryExecution.analyzed) match {
            case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
              val c = agg.canonicalized
                .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]
              // output NAMES come from the pre-canonical schema (in
              // order), zipped positionally with the canonical exprs
              Some(RewriteCandidate(mvRoot, spec.baseRoot,
                c.child, c.groupingExpressions.toSet,
                df.schema.fieldNames.toSeq
                  .zip(c.aggregateExpressions.map(bareExpr)).toSet,
                df.schema.map(f => f.name -> f.dataType).toMap))
            case _ => None
          }
        } finally buildingRewrite.set(false)
      }
    } catch { case NonFatal(_) => None }

  /** Replace a matched aggregate with a read of the view, projecting
    * the view's columns BY NAME under the matched node's own output
    * attributes (the name+expression containment check fixed the
    * correspondence; name + exprId preservation keeps every parent
    * operator resolving unchanged — a subset match simply projects
    * fewer view columns). None — keep the original — on any
    * name/type mismatch, which the match should preclude but must
    * never be assumed. */
  private[graft] def substituteRewrite(
      spark: SparkSession, c: RewriteCandidate,
      matched: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    buildingRewrite.set(true)
    try {
      val rel = org.apache.spark.sql.catalyst.analysis
        .EliminateSubqueryAliases(
          ManifestTable.read(spark, c.mvRoot).queryExecution.analyzed)
      val byName = rel.output.map(a => a.name -> a).toMap
      if (matched.output.exists(o => !byName.contains(o.name) ||
          byName(o.name).dataType != o.dataType))
        None
      else Some(org.apache.spark.sql.catalyst.plans.logical.Project(
        matched.output.map { o =>
          org.apache.spark.sql.catalyst.expressions.Alias(
            byName(o.name), o.name)(exprId = o.exprId)
        }, rel))
    } catch { case NonFatal(_) => None }
    finally buildingRewrite.set(false)
  }

  // --------------------------------------------------------- definition

  /** A declared dimension of a join definition: the placeholder name
    * (`__DIM_<name>__` in the SQL), its manifest root, and the
    * equi-join key columns on each side (positionally paired).
    * `parent = None` joins the FACT (`factKeys` are base columns);
    * `parent = Some(p)` joins declared dim `p` one hop up the
    * snowflake (`factKeys` are then columns of `p`). */
  final case class JoinDim(name: String, root: String,
                           factKeys: Seq[String], dimKeys: Seq[String],
                           parent: Option[String] = None)

  private final case class DimState(dim: JoinDim, lastVersion: Long)

  /** The view's definition + refresh offsets — a line-oriented sidecar
    * updated by atomic overwrite-rename (no Spark job for a metadata
    * write; the crash contract is idempotence, not the CAS). */
  private final case class Spec(baseRoot: String, defSql: String,
                                keyCols: Seq[String], lastVersion: Long,
                                dims: Seq[DimState],
                                keyExprs: Seq[(String, String)])

  private def statePath(mvRoot: String) =
    new org.apache.hadoop.fs.Path(s"$mvRoot/$StateSub/spec")

  private def fs(spark: SparkSession, mvRoot: String) =
    new org.apache.hadoop.fs.Path(mvRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // sidecar line prefixes after the 4 fixed lines: a dim is bare
  // tab-separated fields, an expression key rides a marked line (the
  // marker keeps old line positions stable — crash-idempotence tests
  // rewrite offsets by index)
  private val ExprMark = "#expr\t"

  private def readSpec(spark: SparkSession, mvRoot: String): Spec = {
    val f = fs(spark, mvRoot)
    val p = statePath(mvRoot)
    require(f.exists(p),
      s"no materialized view at $mvRoot — create() first")
    val in = f.open(p)
    val lines = try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      .split('\n')
    finally in.close()
    // defSql on line 3 (it may be long but never multi-line:
    // temp-view SQL with newlines is normalized at create); declared
    // dims follow, one per line, tab-separated; expression keys ride
    // `#expr` lines after them
    val tail = lines.drop(4).filter(_.nonEmpty).toSeq
    val dims = tail.filterNot(_.startsWith(ExprMark)).map { l =>
      val f = l.split('\t')
      DimState(JoinDim(f(0), f(1), f(2).split(",").toSeq,
        f(3).split(",").toSeq,
        f.lift(5).filter(_ != "-")), f(4).toLong)
    }
    val keyExprs = tail.filter(_.startsWith(ExprMark)).map { l =>
      val f = l.stripPrefix(ExprMark).split('\t')
      (f(0), f(1))
    }
    Spec(lines(0), lines(3), lines(1).split(",").toSeq,
      lines(2).toLong, dims, keyExprs)
  }

  private def writeSpec(spark: SparkSession, mvRoot: String,
                        spec: Spec): Unit = {
    val f = fs(spark, mvRoot)
    val p = statePath(mvRoot)
    f.mkdirs(p.getParent): Unit
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s".spec.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write((Seq(spec.baseRoot, spec.keyCols.mkString(","),
      spec.lastVersion.toString, spec.defSql) ++
      spec.dims.map(d => Seq(d.dim.name, d.dim.root,
        d.dim.factKeys.mkString(","), d.dim.dimKeys.mkString(","),
        d.lastVersion.toString, d.dim.parent.getOrElse("-"))
        .mkString("\t")) ++
      spec.keyExprs.map { case (k, e) => s"$ExprMark$k\t$e" })
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      p.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def dimPlaceholder(name: String): String = s"__DIM_${name}__"

  /** Run the definition over `base` (and dim) rows through
    * collision-free temp views; the placeholders keep the definition
    * free of any catalog/session coupling. Returns the bound frame
    * plus the placeholder→view-name map (create() validates the
    * analyzed plan's joins against the declared keys through it). */
  private def runDefBound(spark: SparkSession, defSql: String,
                          base: DataFrame,
                          dims: Seq[(String, DataFrame)])
      : (DataFrame, Map[String, String]) = {
    def fresh() = s"__graft_mv_${java.util.UUID.randomUUID().toString
      .replace("-", "")}"
    val bound = (("__BASE__", base) +:
      dims.map { case (n, df) => (dimPlaceholder(n), df) })
      .map { case (ph, df) => (ph, fresh(), df) }
    bound.foreach { case (_, v, df) => df.createOrReplaceTempView(v) }
    val df =
      try spark.sql(bound.foldLeft(defSql) { case (sql, (ph, v, _)) =>
        sql.replace(ph, v) })
      finally bound.foreach { case (_, v, _) =>
        spark.catalog.dropTempView(v): Unit }
    (df, bound.map { case (ph, v, _) => ph -> v }.toMap)
  }

  private def runDef(spark: SparkSession, defSql: String,
                     base: DataFrame,
                     dims: Seq[(String, DataFrame)] = Nil): DataFrame =
    runDefBound(spark, defSql, base, dims)._1

  private def requireKeysNonNull(df: DataFrame, keyCols: Seq[String],
                                 what: String,
                                 advice: String = "coalesce the key in " +
                                   "the base or filter NULL groups in " +
                                   "the definition's WHERE"): Unit = {
    val bad = df.filter(keyCols.map(col(_).isNull).reduce(_ || _))
      .limit(1).count()
    require(bad == 0L,
      s"materialized-view group keys must be non-null ($what carries " +
        s"a NULL in ${keyCols.mkString(",")}) — $advice")
  }

  /** Where each non-expression group key lives: None = the fact,
    * Some(name) = that declared dim. Each key must resolve to exactly
    * ONE relation — the refresh derives and restricts by these
    * columns unqualified. Expression keys (declared in `keyExprs`)
    * are fact-computed and validated separately. */
  private def keyResidence(spark: SparkSession, spec: Spec)
      : Map[String, Option[String]] = {
    val factCols = ManifestTable.tableSchema(spark, spec.baseRoot,
      ManifestTable.latestVersion(spark, spec.baseRoot)).fieldNames.toSet
    val dimCols = spec.dims.map(d => d.dim.name ->
      ManifestTable.tableSchema(spark, d.dim.root,
        ManifestTable.latestVersion(spark, d.dim.root))
        .fieldNames.toSet).toMap
    val exprKeys = spec.keyExprs.map(_._1).toSet
    spec.keyCols.filterNot(exprKeys.contains).map { k =>
      val homes = (if (factCols.contains(k)) Seq(None) else Nil) ++
        dimCols.collect { case (n, cs) if cs.contains(k) => Some(n) }
      require(homes.nonEmpty,
        s"group key $k is not a column of the base or any declared " +
          "dim — keys must be table columns selected through " +
          "unchanged, or declared in keyExprs as a deterministic " +
          "expression over the base")
      require(homes.length == 1,
        s"group key $k is ambiguous (lives on " +
          s"${homes.map(_.getOrElse("the base")).mkString(" and ")}) — " +
          "key names must be unique across the joined relations")
      k -> homes.head
    }.toMap
  }

  /** Validate the DECLARED equi-joins against the definition's
    * analyzed plan: each dim must be read as a direct relation and
    * equi-joined to its declared parent on at least the declared key
    * pairs (casts unwrapped; equalities read from JOIN conditions and
    * WHERE conjuncts alike). A definition that joins on different
    * columns — or reads the dim non-join-wise, e.g. a scalar
    * subquery — would make the refresh derive touched groups through
    * the WRONG keys and go permanently stale with no error; that is
    * refused here, at create(). Extra equalities/predicates beyond
    * the declared pairs are fine: they only shrink the real join, so
    * the declared-key derivation remains a superset. */
  private def validateDeclaredJoins(built: DataFrame,
                                    views: Map[String, String],
                                    dims: Seq[JoinDim]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, ExprId, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, SubqueryAlias}
    val plan = built.queryExecution.analyzed
    def occs(view: String): Seq[Map[ExprId, String]] =
      plan.collect { case s: SubqueryAlias if s.alias == view =>
        s.output.map(a => a.exprId -> a.name).toMap }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def unwrap(e: Expression): Expression = e match {
      case c: Cast => unwrap(c.child)
      case other => other
    }
    val eqPairs: Seq[(AttributeReference, AttributeReference)] =
      plan.collect {
        case j: Join => j.condition.toSeq
        case f: Filter => Seq(f.condition)
      }.flatten.flatMap(conjuncts).flatMap {
        case EqualTo(l, r) => (unwrap(l), unwrap(r)) match {
          case (a: AttributeReference, b: AttributeReference) =>
            Seq((a, b), (b, a))
          case _ => Nil
        }
        case _ => Nil
      }
    val baseOccs = occs(views("__BASE__"))
    dims.foreach { d =>
      val parentOccs = d.parent match {
        case None    => baseOccs
        case Some(p) => occs(views(dimPlaceholder(p)))
      }
      val dimOccs = occs(views(dimPlaceholder(d.name)))
      require(dimOccs.nonEmpty,
        s"dim ${d.name} is not read as a direct relation in the " +
          "definition (a subquery expression?) — the refresh cannot " +
          "prove the declared join; join the dim as a plain relation " +
          s"on ${d.factKeys.zip(d.dimKeys).map { case (a, b) =>
            s"$a = $b" }.mkString(" AND ")}")
      val declared = d.factKeys.zip(d.dimKeys)
      dimOccs.foreach { docc =>
        val observed = eqPairs.flatMap { case (a, b) =>
          parentOccs.collect {
            case pocc if pocc.contains(a.exprId) &&
                docc.contains(b.exprId) =>
              (pocc(a.exprId), docc(b.exprId))
          }
        }.toSet
        val missing = declared.filterNot(observed.contains)
        require(missing.isEmpty,
          s"dim ${d.name} is declared to join " +
            s"${d.parent.getOrElse("the base")} on " +
            declared.map { case (a, b) => s"$a = $b" }.mkString(", ") +
            " but the definition's analyzed plan carries no such " +
            s"equality for ${missing.map { case (a, b) =>
              s"$a = $b" }.mkString(", ")} — a refresh would derive " +
            "touched groups through the wrong keys and go silently " +
            "stale; declare the keys the definition actually joins on")
      }
    }
  }

  /** Create the view: validate the definition, run the INITIAL full
    * build at the base's (and dims') current heads (the one
    * legitimately table-sized pass), and commit it as a manifest table
    * tracking the group keys (so the refresh fold is file-granular on
    * the view side too). Returns the view's version 0. */
  def create(spark: SparkSession, mvRoot: String, baseRoot: String,
             defSql0: String, keyCols: Seq[String],
             dims: Seq[JoinDim] = Nil,
             keyExprs: Map[String, String] = Map.empty): Long = {
    // whitespace-normalized so the sidecar stays line-oriented (a
    // string literal carrying a LITERAL newline/tab would be altered —
    // write it as char(10)/char(9) in SQL instead)
    val defSql = defSql0.replaceAll("[\\s]+", " ").trim
    require(defSql.contains("__BASE__"),
      "the definition must reference the base table as __BASE__")
    require(keyCols.nonEmpty, "materialized views need group keys")
    require(!ManifestTable.exists(spark, mvRoot),
      s"manifest table at $mvRoot already exists")
    require(dims.map(_.name).distinct.length == dims.length,
      "declared dim names must be unique (alias the same root twice " +
        "under two names)")
    val vB = ManifestTable.latestVersion(spark, baseRoot)
    require(vB >= 0, s"no manifest table at $baseRoot")
    val baseSchema = ManifestTable.tableSchema(spark, baseRoot, vB)
    val byName = dims.map(d => d.name -> d).toMap
    // snowflake chains: parents declared, acyclic, one schema home
    // per join column
    dims.foreach { d =>
      d.parent.foreach { p =>
        require(byName.contains(p),
          s"dim ${d.name} names undeclared parent $p")
        var cur = p
        val seen = scala.collection.mutable.Set(d.name)
        while (byName(cur).parent.isDefined) {
          require(seen.add(cur),
            s"dim parent chain of ${d.name} cycles at $cur")
          cur = byName(cur).parent.get
        }
        require(seen.add(cur),
          s"dim parent chain of ${d.name} cycles at $cur")
      }
    }
    val dimStates = dims.map { d =>
      require(defSql.contains(dimPlaceholder(d.name)),
        s"declared dim ${d.name} is never referenced — the definition " +
          s"must read it as ${dimPlaceholder(d.name)}")
      require(d.factKeys.nonEmpty &&
        d.factKeys.length == d.dimKeys.length,
        s"dim ${d.name} needs positionally-paired factKeys/dimKeys")
      val vD = ManifestTable.latestVersion(spark, d.root)
      require(vD >= 0, s"no manifest table at ${d.root}")
      val dimSchema = ManifestTable.tableSchema(spark, d.root, vD)
      val parentSchema = d.parent match {
        case None    => baseSchema
        case Some(p) => ManifestTable.tableSchema(spark, byName(p).root,
          ManifestTable.latestVersion(spark, byName(p).root))
      }
      d.factKeys.foreach(k => require(
        parentSchema.fieldNames.contains(k),
        s"dim ${d.name} join key $k is not a column of " +
          s"${d.parent.getOrElse("the base")}"))
      d.dimKeys.foreach(k => require(dimSchema.fieldNames.contains(k),
        s"dim ${d.name} join key $k is not a dim column"))
      DimState(d, vD)
    }
    // expression keys: must be among the group keys, must not shadow
    // a physical column anywhere (the fold and derivation use the
    // name unqualified), and must resolve DETERMINISTICALLY against
    // the base alone — the derivation computes them on fact rows
    // before any dim joins
    val baseDf = ManifestTable.readVersion(spark, baseRoot, vB)
    keyExprs.foreach { case (k, e) =>
      require(keyCols.contains(k),
        s"keyExprs entry $k is not a declared group key")
      require(!baseSchema.fieldNames.contains(k) &&
        dimStates.forall(d => !ManifestTable.tableSchema(spark,
          d.dim.root, d.lastVersion).fieldNames.contains(k)),
        s"expression key $k shadows a physical column — pick a name " +
          "no joined relation carries")
      val probe =
        try baseDf.select(expr(e).as(k))
        catch { case NonFatal(ex) => throw new IllegalArgumentException(
          s"expression key $k = `$e` does not resolve against the " +
            s"base alone: ${ex.getMessage}", ex) }
      require(probe.queryExecution.analyzed.expressions
        .forall(_.deterministic),
        s"expression key $k = `$e` is non-deterministic — the " +
          "recompute must re-derive identical bucket values")
    }
    val spec = Spec(baseRoot, defSql, keyCols, vB, dimStates,
      keyExprs.toSeq.sortBy(_._1))
    keyResidence(spark, spec): Unit // refuses missing/ambiguous keys
    val (built, views) = runDefBound(spark, defSql,
      ManifestTable.readVersion(spark, baseRoot, vB),
      dimStates.map(d =>
        d.dim.name -> ManifestTable.readVersion(spark, d.dim.root,
          d.lastVersion)))
    if (dims.nonEmpty) validateDeclaredJoins(built, views, dims)
    keyCols.foreach(k => require(built.columns.contains(k),
      s"the definition's output must carry group key $k"))
    // cached across the two consumers: the NULL-key validation scan
    // and the initial-build write would otherwise each execute the
    // full definition (base ⋈ dims + aggregate) — at 100 TB that is
    // the one legitimately table-sized pass run TWICE. The cache holds
    // only the aggregated view rows (|groups|, not |base|).
    val builtC = built.cache()
    try {
      labeled(spark, "mv: create null-key check")(
        requireKeysNonNull(builtC, keyCols, "the initial build"))
      val v = labeled(spark, "mv: initial build")(
        ManifestTable.create(builtC, mvRoot, keyCols))
      writeSpec(spark, mvRoot, spec)
      v
    } finally builtC.unpersist(): Unit
  }

  /** Incremental refresh. Returns the view's new version and how many
    * groups were recomputed, or None when neither the base nor any
    * declared dim has moved. Cost: changed-file reads (the deltas) +
    * the touched groups' base rows (runtime-filter-pruned scan) + a
    * keyed fold over the view's touched files. A view that lagged
    * past any table's retention refuses with the re-create contract
    * named (same as a lagged change-feed consumer). */
  def refresh(spark: SparkSession, mvRoot: String): Option[(Long, Long)] = {
    val spec = readSpec(spark, mvRoot)
    def headOf(root: String, last: Long, what: String): Long = {
      val vNow = ManifestTable.latestVersion(spark, root)
      require(vNow >= last,
        s"view offset $last is ahead of $what $root at $vNow — the " +
          "table was restored/vacuumed under the view; re-create it")
      require(ManifestTable.versions(spark, root).contains(last),
        s"view lagged past retention: version $last of $what $root " +
          "was vacuumed — re-create the view" +
          VersionedTable.CrashedSweepHint)
      vNow
    }
    val vNow = headOf(spec.baseRoot, spec.lastVersion, "base")
    val dimNow = spec.dims.map(d =>
      d.dim.name -> headOf(d.dim.root, d.lastVersion, s"dim ${d.dim.name}"))
      .toMap
    if (vNow == spec.lastVersion &&
        spec.dims.forall(d => dimNow(d.dim.name) == d.lastVersion))
      return None
    val residence = keyResidence(spark, spec)
    val factKeyCols = spec.keyCols.filter(k =>
      residence.get(k).exists(_.isEmpty))
    val exprKeys = spec.keyExprs
    val dimByName = spec.dims.map(d => d.dim.name -> d).toMap
    def dimDf(d: DimState, v: Long): DataFrame =
      ManifestTable.readVersion(spark, d.dim.root, v)

    // 1a. CHANGED ROWS of each table, old and new state — reads are
    //     bounded by each delta's files, with each side's deletion
    //     vectors applied. Each side also carries its manifest-known
    //     ROW BOUND (the delta files' effective row counts): the
    //     broadcast gates below decide on these bounds with ZERO
    //     extra jobs — at 100 TB, counting a frame to decide whether
    //     to broadcast it would cost the very scan the gate exists
    //     to avoid.
    def changedRows(root: String, from: Long, to: Long)
        : (Option[(DataFrame, Long)], Option[(DataFrame, Long)]) = {
      if (from == to) return (None, None)
      val (removed, added) = ManifestTable.changedFileStates(
        spark, root, from, to)
      def rowsOf(states: Seq[(String, Long, Option[String], Long)], v: Long) =
        if (states.isEmpty) None
        else Some((ManifestTable.readFilesDv(spark,
          ManifestTable.tableSchema(spark, root, v),
          states.map(s => (s._1, s._2, s._3)), states.map(_._4).sum),
          states.map(_._4).sum))
      (rowsOf(removed, from), rowsOf(added, to))
    }
    val (remF, addF) = changedRows(spec.baseRoot, spec.lastVersion, vNow)
    // BROADCAST SIZE GATE: every key-set join below is broadcast ONLY
    // while the set is PROVABLY small — bounded-by-changed-groups is
    // the intended incremental regime, but a degenerate full-churn
    // refresh (bulk rewrite, high-cardinality group key) must not pump
    // a table-sized key set through the driver. Past the threshold the
    // hint drops and Spark plans a shuffle semi join: the refresh
    // degrades toward the full-recompute cost such a churn needs
    // anyway, never toward a driver OOM. Proof is by MANIFEST ROW
    // BOUNDS (delta row counts, dim effective row counts), never by a
    // counting job — a conservative miss (many rows, few distinct
    // keys) merely skips a broadcast opportunity.
    val maxBroadcastKeys = spark.conf.getOption(
      "spark.graft.mv.maxBroadcastKeys").map(_.toLong).getOrElse(1000000L)
    def keyed(df: DataFrame, bound: Long): DataFrame =
      if (bound <= maxBroadcastKeys) broadcast(df) else df
    /** A dim's total effective rows at `v` — the manifest-metadata
      * bound for any key set derived from that dim. */
    def dimRowBound(d: DimState, v: Long): Long =
      ManifestTable.effectiveStates(spark, d.dim.root, v).map(_._3).sum
    // per dim: the changed rows and the distinct JOIN-KEY values they
    // carry (old ∪ new) — every fact row joining one of these keys
    // may have changed its group or its contribution; the bound is
    // the delta's row count
    val dimDeltas = spec.dims.map { d =>
      val (remD, addD) = changedRows(d.dim.root, d.lastVersion,
        dimNow(d.dim.name))
      val changedKeys =
        (remD.map(r => (r._1.select(d.dim.dimKeys.map(col): _*), r._2)) ++
          addD.map(r => (r._1.select(d.dim.dimKeys.map(col): _*), r._2)))
          .reduceOption((a, b) => (a._1 unionByName b._1, a._2 + b._2))
          .map { case (df, bound) => (df.distinct(), bound) }
      (d, remD.map(_._1), addD.map(_._1), changedKeys)
    }

    /** Lift a set of `d`-dimKeys values hop by hop up the declared
      * chain to the FACT's join-key values (identity for fact-level
      * dims): each hop is a semi join against the parent dim at the
      * side-appropriate version, gated by the parent's manifest row
      * bound (a hop's output can never exceed the parent's rows).
      * Returns the fact-key frame, its bound, and the fact-level
      * columns it carries. */
    def liftToFact(d: DimState, keys: DataFrame, bound: Long,
                   at: DimState => Long): (DataFrame, Long, Seq[String]) =
      d.dim.parent match {
        case None =>
          (keys.toDF(d.dim.factKeys: _*), bound, d.dim.factKeys)
        case Some(pName) =>
          val p = dimByName(pName)
          val pk = dimDf(p, at(p))
            .join(keyed(keys.toDF(d.dim.factKeys: _*), bound),
              d.dim.factKeys, "left_semi")
            .select(p.dim.dimKeys.map(col): _*).distinct()
          liftToFact(p, pk, dimRowBound(p, at(p)), at)
      }

    // 1b. TOUCHED FACT ROWS on each side: the fact's own changed rows
    //     plus fact rows joining a changed dim key (lifted through
    //     the chain for snowflake dims) — each semi join broadcasts
    //     while small (the runtime file filter then prunes a
    //     join-key-clustered fact to the matching files) and falls
    //     back to a shuffle semi join past the gate
    def factSide(factRows: Option[DataFrame], v: Long,
                 at: DimState => Long): Option[DataFrame] = {
      val viaDims = dimDeltas.flatMap { case (d, _, _, ck) =>
        ck.map { case (keys, nKeys) =>
          val (fk, nFk, fkCols) = liftToFact(d, keys, nKeys, at)
          ManifestTable.readVersion(spark, spec.baseRoot, v)
            .join(keyed(fk, nFk), fkCols, "left_semi")
        }
      }
      (factRows.toSeq ++ viaDims).reduceOption(_ unionByName _)
    }
    // 1c. TOUCHED GROUP KEYS: project the group keys of each side's
    //     touched fact rows — through the declared joins at that
    //     side's versions when keys live on a dim (including each
    //     hosting dim's ancestor chain), computed on the fact rows
    //     when declared as expressions. LEFT joins make the
    //     derivation a superset of the definition's own join (extra
    //     groups recompute to their unchanged values or fold as
    //     no-op deletes — never a wrong answer); NULL-keyed
    //     derivations drop (join definitions) or refuse (plain).
    def chainOf(d: DimState): Seq[DimState] = d.dim.parent match {
      case None    => Seq(d)
      case Some(p) => chainOf(dimByName(p)) :+ d
    }
    def keysOfSide(rows: Option[DataFrame],
                   dimAt: DimState => Long): Option[DataFrame] =
      rows.map { r =>
        val hosts = spec.dims.filter(d =>
          spec.keyCols.exists(k => residence.get(k)
            .exists(_.contains(d.dim.name))))
        // parent-first, deduped: every hosting dim plus its ancestors
        val needed = hosts.flatMap(chainOf).distinct
        val childKeys = needed.map { d =>
          d.dim.name -> needed.filter(_.dim.parent.contains(d.dim.name))
            .flatMap(_.dim.factKeys)
        }.toMap
        // expression keys compute on the RAW fact row before any
        // joins (they resolve against the base alone by contract)
        val withExprs = exprKeys.foldLeft(r) { case (acc, (k, e)) =>
          acc.withColumn(k, expr(e))
        }
        val joined = needed.foldLeft(withExprs.as("__f")) { (acc, d) =>
          val keptCols = (d.dim.dimKeys ++ childKeys(d.dim.name) ++
            spec.keyCols.filter(k => residence.get(k)
              .exists(_.contains(d.dim.name)))).distinct
          val parentAlias = d.dim.parent match {
            case None    => "__f"
            case Some(p) => s"__d_$p"
          }
          val cond = d.dim.factKeys.zip(d.dim.dimKeys).map {
            case (fk, dk) =>
              col(s"$parentAlias.$fk") === col(s"__d_${d.dim.name}.$dk")
          }.reduce(_ && _)
          acc.join(
            dimDf(d, dimAt(d)).select(keptCols.map(col): _*)
              .as(s"__d_${d.dim.name}"), cond, "left")
        }
        joined.select(spec.keyCols.map { k =>
          residence.get(k).flatten match {
            case None      => col(s"__f.$k") // fact column or expr key
            case Some(dim) => col(s"__d_$dim.$k")
          }
        }: _*)
      }
    val touchedRaw = (keysOfSide(
        factSide(remF.map(_._1), spec.lastVersion, d => d.lastVersion),
        d => d.lastVersion) ++
      keysOfSide(factSide(addF.map(_._1), vNow, d => dimNow(d.dim.name)),
        d => dimNow(d.dim.name)))
      .reduceOption(_ unionByName _)
    val advanced = spec.copy(lastVersion = vNow,
      dims = spec.dims.map(d =>
        d.copy(lastVersion = dimNow(d.dim.name))))
    val (touched, nTouched) = touchedRaw match {
      case None =>
        // metadata-only commits (evolution, rename, constraint):
        // no group can have changed — advance the offsets and stop
        writeSpec(spark, mvRoot, advanced)
        return Some((ManifestTable.latestVersion(spark, mvRoot), 0L))
      case Some(rows0) =>
        // cached across its two consumers: the expression-key NULL
        // check below and the na.drop/distinct would otherwise EACH
        // execute the full touched derivation (changed-file reads +
        // the per-dim join chains) — the second table-sized-at-worst
        // pass of the refresh, run twice for nothing
        val rows = rows0.cache()
        try labeled(spark, "mv: touched derivation") {
          // expression keys are computed on the FACT row (never join
          // padding), so a NULL there is a contract breach, not a LEFT
          // reconstruction artifact: dropping it would silently exclude
          // the row from the recompute restriction forever. Refuse
          // loudly, like the plain-definition key check.
          if (exprKeys.nonEmpty)
            requireKeysNonNull(
              rows.select(exprKeys.map(e => col(e._1)): _*),
              exprKeys.map(_._1), "a changed base row's expression key",
              advice = "the declared key expression must be non-null " +
                "over base rows — coalesce it in keyExprs or filter " +
                "the rows in the definition's WHERE, then re-create")
          // join definitions: NULL derivations are the LEFT
          // reconstruction's padding for rows an inner definition
          // contributes nothing for — dropped here; the definition's
          // OWN output is null-checked below. Plain definitions keep
          // the loud refusal (checked on the cached frame, one job
          // with the count). Touched is the ONE frame whose exact
          // count is paid for — it is re-used by four joins, returned
          // to the caller, and doubles as its own broadcast gate.
          val c = (if (spec.dims.isEmpty && exprKeys.isEmpty) rows
            else rows.na.drop("any", spec.keyCols)).distinct().cache()
          (c, c.count())
        } finally rows.unpersist(): Unit
    }
    // 2. RECOMPUTE exactly those groups from the heads. The fact scan
    //    restricts to a SUPERSET of the touched groups' membership —
    //    fact-resident keys semi-join directly; expression keys
    //    semi-join on the recomputed expression; dim-resident keys
    //    map to the dims' join keys and lift through the chain —
    //    so every member row of every touched group is read (semi
    //    joins the runtime file filter prunes a clustered fact by),
    //    then exactly the touched groups' recomputed rows are kept.
    var factR = ManifestTable.readVersion(spark, spec.baseRoot, vNow)
    if (factKeyCols.nonEmpty)
      factR = factR.join(
        keyed(touched.select(factKeyCols.map(col): _*).distinct(),
          nTouched),
        factKeyCols, "left_semi")
    exprKeys.foreach { case (k, e) =>
      val tk = touched.select(col(k).as(s"__mv_tk_$k")).distinct()
      factR = factR.join(keyed(tk, nTouched),
        expr(e) === col(s"__mv_tk_$k"), "left_semi")
    }
    spec.dims.foreach { d =>
      val resident = spec.keyCols.filter(k =>
        residence.get(k).exists(_.contains(d.dim.name)))
      if (resident.nonEmpty) {
        // pks can outnumber touched groups (one touched attribute may
        // name many dim keys) — its gate is the dim's manifest row
        // bound, not a counting job
        val pks = dimDf(d, dimNow(d.dim.name))
          .join(keyed(touched.select(resident.map(col): _*).distinct(),
            nTouched), resident, "left_semi")
          .select(d.dim.dimKeys.map(col): _*).distinct()
        val (fk, nFk, fkCols) = liftToFact(d, pks,
          dimRowBound(d, dimNow(d.dim.name)), dd => dimNow(dd.dim.name))
        factR = factR.join(keyed(fk, nFk), fkCols, "left_semi")
      }
    }
    val recomputedAll = runDef(spark, spec.defSql, factR,
      spec.dims.map(d =>
        d.dim.name -> dimDf(d, dimNow(d.dim.name)))).cache()
    val recomputed = recomputedAll
      .join(keyed(touched, nTouched), spec.keyCols, "left_semi")
    try {
      if (spec.dims.isEmpty && exprKeys.isEmpty)
        labeled(spark, "mv: refresh null-key check")(
          requireKeysNonNull(touched, spec.keyCols, "a changed base row"))
      else labeled(spark, "mv: recompute null-key check") {
        // the definition itself produced a NULL group over the
        // restricted inputs — out of the non-null-key contract; a
        // silent skip here would let the view diverge forever. The
        // definition is frozen in the spec sidecar, so the remedy is
        // re-creation, named. (A NULL group whose member rows the
        // restriction cannot see — an outer-join definition padding
        // unmatched rows — stays the documented create()-time
        // contract: filter NULL groups in the definition's WHERE.)
        requireKeysNonNull(recomputedAll, spec.keyCols,
          "the definition's recomputed output",
          advice = "new base/dim rows fall outside the definition's " +
            "join (an outer definition padding NULL groups?) — " +
            "re-create the view with a definition that keeps keys " +
            "non-null (inner join on the declared keys, or a WHERE " +
            "filtering NULL groups)")
      }
      // 3. ONE keyed CDC fold into the view: recomputed groups upsert,
      //    groups with no surviving rows delete. seq = the sum of the
      //    table versions this refresh reflects — strictly monotone
      //    across refreshes (any refresh advanced at least one).
      val mvSchema = ManifestTable.tableSchema(spark, mvRoot,
        ManifestTable.latestVersion(spark, mvRoot))
      val payload = mvSchema.fieldNames.filterNot(spec.keyCols.contains)
      val vanished = touched.join(
          recomputed.select(spec.keyCols.map(col): _*),
          spec.keyCols, "left_anti")
        .select(spec.keyCols.map(col) ++
          payload.map(c => lit(null).cast(mvSchema(c).dataType).as(c)): _*)
      val seqV = vNow + spec.dims.map(d => dimNow(d.dim.name)).sum
      val cdc = recomputed.withColumn("op", lit("I"))
        .unionByName(vanished.withColumn("op", lit("D")))
        .withColumn("seq", lit(seqV))
      val v = labeled(spark, "mv: refresh fold")(
        ManifestTable.applyCdc(cdc, mvRoot, spec.keyCols))
      // 4. offsets LAST: a crash above re-runs the same recompute
      //    against the same base/dim versions — idempotent by value
      writeSpec(spark, mvRoot, advanced)
      Some((v, nTouched))
    } finally {
      touched.unpersist()
      recomputedAll.unpersist(): Unit
    }
  }
}
