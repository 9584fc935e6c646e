package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProductF32, SortedIntersectCount, SrpSigsF32, VectorExpressions}

/** Cluster-deployable registration of the engine's custom Catalyst
  * expressions, the idiomatic Spark extension point:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Every session built from that config (and every `newSession()`)
  * resolves `dot_f32` / `srp_sigs_f32` from SQL and the Column API with
  * no per-session setup. Operator entry points still call
  * `VectorExpressions.ensureRegistered` so the library also works on a
  * plain session — the extension makes registration a deploy-time,
  * cluster-wide property instead of a code-path side effect.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(fn: String, e: Expression, name: String): Int =
    e.eval(null) match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"$fn $name must be an integer literal, got $other")
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // planner-integrated data skipping: plain filters over directories
    // registered with graft.plans.GraftTables prune files against
    // their adopted manifest's envelopes and bloom bits at
    // optimization time
    ext.injectOptimizerRule(session => graft.plans.StatsPruneRule(session))
    // metadata-only whole-table aggregates: COUNT/MIN/MAX over a
    // manifest table or a registered directory collapse to the
    // manifest's answer when it provably covers the scan's file set
    ext.injectOptimizerRule(session => graft.plans.MetaAggRule(session))
    // SQL MERGE INTO / UPDATE / DELETE on graft catalog tables:
    // substituted at post-hoc resolution (before the optimizer's
    // row-level rewrites would reject the table) with eager commands
    // that delegate to the manifest engine's file-granular operations
    ext.injectPostHocResolutionRule(session =>
      graft.plans.GraftRowLevelSqlRule(session))
    // transparent materialized-view rewrite: an aggregate query whose
    // analyzed plan IS a registered fresh MV's definition (over the
    // snapshots the view reflects — freshness is part of the match)
    // reads the view's files instead of re-scanning the base
    ext.injectPostHocResolutionRule(session =>
      graft.plans.GraftMvRewriteRule(session))
    // write-side schema auto-merge (mergeSchema option / the
    // spark.graft.schema.autoMerge conf): a by-name append carrying
    // new columns evolves the table instead of failing resolution.
    // Injected into the HINTS batch — the one analyzer batch that
    // runs BEFORE Resolution, whose output resolver would reject the
    // extra columns in the same iteration any resolution-stage rule
    // first saw them
    ext.injectHintResolutionRule(session =>
      graft.plans.GraftSchemaMergeRule(session))
    ext.injectFunction((
      FunctionIdentifier("dot_f32"),
      new ExpressionInfo(classOf[DotProductF32].getName, "dot_f32"),
      (exprs: Seq[Expression]) => DotProductF32(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("srp_sigs_f32"),
      new ExpressionInfo(classOf[SrpSigsF32].getName, "srp_sigs_f32"),
      (exprs: Seq[Expression]) => SrpSigsF32(exprs(0),
        intArg("srp_sigs_f32", exprs(1), "nBands"),
        intArg("srp_sigs_f32", exprs(2), "bandBits"),
        intArg("srp_sigs_f32", exprs(3), "dim"))))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName,
        "jaro_winkler"),
      (exprs: Seq[Expression]) =>
        graft.functions.JaroWinkler(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[graft.functions.UnicodeNormalize].getName,
        "unicode_normalize"),
      (exprs: Seq[Expression]) => graft.functions.UnicodeNormalize(exprs(0),
        exprs(1).eval(null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"unicode_normalize form must be a string literal, got $other")
        })))
    ext.injectFunction((
      FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName,
        "sorted_intersect_count"),
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("topk_freq"),
      new ExpressionInfo(classOf[graft.functions.TopKFreq].getName, "topk_freq"),
      (exprs: Seq[Expression]) => graft.functions.TopKFreq(exprs(0),
        intArg("topk_freq", exprs(1), "k"),
        intArg("topk_freq", exprs(2), "capacity"))))
    ext.injectFunction((
      FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[graft.functions.TopKBy].getName, "topk_by"),
      (exprs: Seq[Expression]) => graft.functions.TopKBy(exprs(0), exprs(1),
        intArg("topk_by", exprs(2), "k"))))
    ext.injectFunction((
      FunctionIdentifier("kmv_agg"),
      new ExpressionInfo(classOf[graft.functions.KmvAgg].getName, "kmv_agg"),
      (exprs: Seq[Expression]) => graft.functions.KmvAgg(exprs(0),
        intArg("kmv_agg", exprs(1), "k"))))
    ext.injectFunction((
      FunctionIdentifier("kmv_union_agg"),
      new ExpressionInfo(classOf[graft.functions.KmvUnionAgg].getName,
        "kmv_union_agg"),
      (exprs: Seq[Expression]) => graft.functions.KmvUnionAgg(exprs(0),
        intArg("kmv_union_agg", exprs(1), "k"))))
  }
}

object GraftExtensions {
  /** The config value to pass as `spark.sql.extensions`. */
  val className: String = classOf[GraftExtensions].getName
  /** Convenience: VectorExpressions.ensureRegistered for sessions that
    * were not built with the extension. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    VectorExpressions.ensureRegistered(spark)
}
