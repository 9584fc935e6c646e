package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that matter at 100 TB
  * must be visible in `explain` output, not assumed — filter pushdown to
  * the parquet scan, column pruning, broadcast joins for dims, no
  * cartesian products, whole-stage codegen coverage. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** Distinct data files the physical plan's batch scans would read —
    * unwraps every partition shape the source can emit (plain splits,
    * DV composite branches, bucket-grouped cells), so counts are
    * conf-independent under parallel suites flipping v2 bucketing. */
  private def plannedDataFiles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import sources.v2.{GraftDvCleanPartition, GraftDvFilePartition}
    def files(p: org.apache.spark.sql.connector.read.InputPartition)
        : Seq[String] = p match {
      case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
      case GraftDvCleanPartition(fp: FilePartition) =>
        fp.files.map(_.filePath.toString).toSeq
      case p: GraftDvFilePartition =>
        p.inner.files.map(_.filePath.toString).toSeq
      case b: sources.v2.GraftBucketPartition =>
        b.parts.toSeq.flatMap(files)
      case _ => Nil
    }
    physicalPlan(df).collect {
      case b: BatchScanExec => b.partitions.flatten }
      .flatten.flatMap(files).distinct.size
  }

  test("q1_agg pushes the discount filter into the parquet scan and prunes columns") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount), GreaterThan(l_discount,0.01)]"),
      s"missing pushdown in:\n$p")
    assert(!p.contains("l_shipdate"), "scan reads columns the query never uses")
  }

  /** With auto-broadcast disabled, only the explicit hints survive: the
    * two nation joins (fixed 25 rows at every sf) must broadcast, while
    * orders/customer/supplier — which scale with the fact — must be left
    * to AQE (here: shuffle joins). Forcing those to broadcast is the
    * 100 TB OOM pattern this test exists to prevent. */
  test("dual-dim join broadcasts only fixed-size dims; fact-scaling tables shuffle") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_join_dual_dim")
      val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
      assert(nBroadcast == 2, s"expected exactly the 2 nation broadcasts, got $nBroadcast in:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"orders/customer/supplier should shuffle-join when too big to broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The whole point of TopKBy is replacing the per-group full sort: the
    * plan must be a (partial → final) object-hash aggregate pair with no
    * Window operator and no pre-aggregation global Sort of the fact. */
  test("group top-k plans as a partial aggregate, not a window sort") {
    val p = plan("q_group_topk")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final ObjectHashAggregate in:\n$p")
    assert(!p.contains("Window"), s"top-k must not fall back to a window sort:\n$p")
  }

  /** Same invariant for the aggregate-strategy stratified draw: the
    * draw that exists to avoid the stratum sort must not contain one. */
  test("aggregate group-sample plans without a window sort") {
    val p = plan("q_group_sample_agg")
    assert(!p.contains("Window"), s"agg draw fell back to a window:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final ObjectHashAggregate in:\n$p")
  }

  /** The MinHash pipeline must never broadcast corpus-sized state: with
    * auto-broadcast off (and no hints in the operator), the whole plan
    * contains no broadcast exchange at all. */
  test("minhash LSH plan has no corpus-sized broadcast") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_dedup_minhash")
      assert(!p.contains("BroadcastExchange"),
        s"signature/band tables must not be broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Same invariant for BOTH incremental variants (rescan and persisted
    * index): with auto-broadcast off, neither plan may broadcast — at
    * 100 TB the corpus/index side is never broadcastable, and the batch
    * side must not smuggle one in via a hint either. */
  test("incremental band joins never broadcast the corpus side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // drop caches other suites planted: an identical cached subtree
      // compiled with broadcast ON would otherwise surface its
      // BroadcastExchange inside this plan via cache reuse
      spark.catalog.clearCache()
      Seq("q_dedup_incremental", "q_dedup_incremental_idx").foreach { q =>
        val p = plan(q)
        assert(!p.contains("BroadcastExchange"),
          s"$q must not broadcast corpus-sized state:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The property that makes the persisted index cheap per batch: the
    * band join must scan ONLY the signature columns of the index —
    * parquet column pruning keeps the fat `shs` key-set array out of
    * the scan (it is read separately, semi-joined to candidates). */
  test("persisted index band join prunes the key-set column from its scan") {
    val p = plan("q_dedup_incremental_idx")
    val idxScans = "BatchScan graft[^\n]*mh_index[^\n]*".r.findAllIn(p).toList
    assert(idxScans.nonEmpty, s"expected index scans in:\n$p")
    assert(idxScans.exists(s => !s.contains("shs")),
      s"every index scan reads the shs array — pruning lost:\n${idxScans.mkString("\n")}")
  }

  test("anti/semi joins use hash join strategies, not cartesian") {
    val pa = plan("q_anti_join")
    val ps = plan("q_semi_join")
    assert(!pa.contains("CartesianProduct") && !ps.contains("CartesianProduct"))
    assert(pa.contains("LeftAnti") || pa.contains("left_anti"))
    assert(ps.contains("LeftSemi") || ps.contains("left_semi"))
  }

  /** Blocking is the whole point of the fuzzy join: the self-join must
    * be an equi-join on the block key (hash shuffle co-locating blocks),
    * never a cartesian/nested-loop with levenshtein as the only
    * predicate — that shape is n² row comparisons at any scale. */
  test("fuzzy match self-join is block-keyed, not cartesian") {
    val p = plan("q_fuzzy_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must stay an equi-join on the block key:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a hash/merge equi-join:\n$p")
  }

  /** One (o_custkey) exchange serves both running frames — a second
    * Exchange would mean the windows failed to share their partitioning. */
  test("running-window frames share a single user shuffle") {
    val p = plan("q_window_running")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected one hash exchange for both window frames, got $n:\n$p")
  }

  /** Sessionization is ONE shuffle end-to-end: lag, the running session
    * counter, and the per-(user, session) aggregate all execute under
    * the original (user_id) hash partitioning — the aggregate's keys
    * are a superset of the partitioning, so no re-exchange. */
  test("sessionize runs lag, counter, and session aggregate on one shuffle") {
    val p = plan("q_sessionize")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected a single user_id exchange, got $n:\n$p")
  }

  test("scalar projections prune the scan and run in whole-stage codegen") {
    val df = SparkEntry.queries("q_scalar_hash")(spark, sf)
    df.collect() // execute THIS plan so AQE finalizes and codegen stages appear
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string>"),
      s"scan should read only the two needed columns:\n$p")
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact plan form
    assert(p.contains("*(1) Project"), s"projection fell out of codegen:\n$p")
  }

  test("occupancy explode avoids cartesian products") {
    val p = plan("q_occupancy_hourly")
    assert(!p.contains("CartesianProduct"), s"occupancy must not be a cross join:\n$p")
    assert(p.contains("Generate explode") || p.contains("Generate"),
      "expected sequence+explode generator")
  }

  test("custom dot_f32 expression participates in codegen (no UDF fallback)") {
    val df = SparkEntry.queries("q_dedup_embedding")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dot_f32"), s"custom expression missing from plan:\n$p")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"),
      "vector math must not fall back to UDF execution")
  }

  /** Embedding dedup is blocked on label — an equi-join, never an
    * all-pairs cross join over the corpus. */
  test("embedding dedup joins on the block key, not a constant") {
    val df = SparkEntry.queries("q_dedup_embedding")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"embedding dedup must not cross-join:\n$p")
    assert(p.contains("blk"), s"expected the blk equi-join key in:\n$p")
  }

  test("ANN query side broadcasts; corpus never shuffles") {
    val p = plan("q_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast in:\n$p")
  }

  test("quantized ANN keeps the same broadcast shape as the float path") {
    val p = plan("q_ann_topk_quant")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side should broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus must not shuffle into a cartesian:\n$p")
  }

  /** Both PQ stages keep the bounded side broadcast: the shortlist scan
    * broadcasts the query LUTs over the encoded corpus, the rerank
    * broadcasts the shortlist back onto the float vectors — the corpus
    * is never the build/shuffled-into-cartesian side in either stage. */
  test("PQ ANN broadcasts queries and shortlist; corpus never cartesians") {
    val p = plan("q_ann_pq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bounded sides should broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus must not shuffle into a cartesian:\n$p")
  }

  /** Line dedup's corpus-level signal (the per-line df) must aggregate
    * on the 64-bit line hash, never shuffle the line STRINGS for df,
    * and apply the boilerplate set as a build-side anti-join. */
  test("line dedup plan: hashed df aggregation, anti-join boilerplate set, no cartesian") {
    val p = plan("q_line_dedup")
    assert(p.contains("LeftAnti"), s"boilerplate removal should be an anti-join:\n$p")
    assert("HashAggregate\\(keys=\\[lh".r.findFirstIn(p).isDefined,
      s"df aggregation should key on the line hash:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian expected:\n$p")
  }

  /** The gated IVF bindings carry a corpus-proportional query set, so
    * they must NOT hint a query-side broadcast: with auto-broadcast off
    * the probe plans as a shuffle join on the cell key (the shape that
    * survives a query set that outgrows every broadcast), and no
    * BroadcastExchange appears anywhere. */
  test("IVF large-query path shuffles on the cell key, no forced broadcast") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (q <- Seq("q_ann_ivf", "q_ann_ivf_kmeans")) {
        val p = plan(q)
        assert(!p.contains("BroadcastExchange"),
          s"$q must not broadcast its corpus-proportional query set:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$q probe should be a shuffle join on the cell key:\n$p")
        assert(!p.contains("CartesianProduct"), s"$q must stay keyed on cell:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** IVF-PQ probe stage: corpus-proportional queries → cell equi-join
    * (shuffle, not a forced broadcast of the query side); only the
    * bounded rerank shortlist broadcasts (explicit hint). Never a
    * cartesian anywhere. */
  test("IVF-PQ probes via a cell shuffle join; only the shortlist broadcasts") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_ann_ivfpq")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"probe should be a shuffle join on the cell key:\n$p")
      assert(!p.contains("CartesianProduct"), s"must stay keyed on cell:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** SRP-LSH embedding dedup: candidates come from a (band, sig)
    * equi-join; the signature computation is the codegen SrpSigsF32
    * expression, not a UDF; and nothing corpus-sized is broadcast. */
  test("embedding LSH plan: banded equi-join, codegen signatures, no cross join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_dedup_embedding_lsh")
      assert(!p.contains("CartesianProduct"), s"LSH dedup must not cross-join:\n$p")
      assert(p.contains("srp_sigs_f32"), s"codegen signature expression missing:\n$p")
      assert(!p.contains("ScalaUDF"), "signatures must not fall back to UDF execution")
      assert(!p.contains("BroadcastExchange"),
        s"corpus-sized state must not be broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The extension injects the custom expressions into every session's
    * registry at build time: a fresh newSession() — which does NOT
    * inherit temp functions from ensureRegistered — must still resolve
    * dot_f32 from SQL. */
  test("GraftExtensions registers custom expressions session-wide") {
    val fresh = spark.newSession()
    val r = fresh.sql(
      "SELECT dot_f32(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT)))").collect()(0).getDouble(0)
    assert(r == 4.0)
    val sigs = fresh.sql(
      "SELECT srp_sigs_f32(array(CAST(0.3 AS FLOAT)), 2, 4, 1)").collect()(0).getSeq[Long](0)
    assert(sigs.length == 2)
  }

  /** Stratified sampling is a pure map-side filter: no shuffle may
    * appear anywhere in the operator's plan. */
  test("stratified sample plans with zero exchanges") {
    val df = sources.Tables.documents(spark, sf)
      .withColumn("stratum", (org.apache.spark.sql.functions.col("doc_id") % 2)
        .cast("string"))
    val p = operators.Sampling.stratifiedSampleByHash(df, "doc_id", "stratum",
      Map("0" -> 0.5, "1" -> 0.9)).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
  }

  /** BM25: the only unkeyed join is the broadcast of the 1-row corpus
    * stats; term frequencies join document frequencies via broadcast;
    * top-k plans as TakeOrdered (no global sort materialization). */
  test("bm25 plan: broadcast stats/df, TakeOrdered top-k, no cartesian") {
    val p = plan("q_bm25")
    assert(!p.contains("CartesianProduct"), s"bm25 must not cross-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k should plan as TakeOrdered:\n$p")
    assert(p.contains("BroadcastExchange"), s"df/stats sides should broadcast:\n$p")
  }

  /** Bucketized range join must plan as a hash equi-join on the bucket
    * key — the naive BETWEEN formulation plans as broadcast-nested-loop,
    * which is the O(|points|·|intervals|) shape this operator exists to
    * avoid. */
  test("range join is a bucketed equi-join, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$p")
    assert(p.contains("_bkt"), s"expected the bucket equi-join key in:\n$p")
  }

  /** PPJoin Jaccard: the prefix rank is a per-doc window (shuffle by
    * doc_id — scale-safe), candidates come from the prefix equi-join,
    * and there is no cross join anywhere. */
  test("jaccard PPJoin plan: windowed prefix rank, no cartesian") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // operator-internal caches from earlier suites would hide the
      // window subtree inside an InMemoryTableScan
      spark.catalog.clearCache()
      val p = plan("q_dedup_jaccard")
      assert(!p.contains("CartesianProduct"), s"jaccard must not cross-join:\n$p")
      assert(p.contains("row_number"), s"expected the df-order prefix rank window:\n$p")
      assert(!p.contains("BroadcastExchange"),
        s"corpus-sized state must not be broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The df-capped Jaccard path (the hot-vocabulary production mode) has
    * the same scale constraints as the exact path: candidates from the
    * capped inverted-index equi-join, nothing corpus-sized broadcast, no
    * cross join. */
  test("capped jaccard plan: equi-join candidates, no broadcast, no cartesian") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.catalog.clearCache()
      val p = plan("q_dedup_jaccard_capped")
      assert(!p.contains("CartesianProduct"), s"capped jaccard must not cross-join:\n$p")
      assert(!p.contains("BroadcastExchange"),
        s"corpus-sized state must not be broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Winnowing overlap: fingerprint selection is a per-doc window (no
    * corpus-wide sort), the pair join is an equi-join on the fingerprint
    * value, and nothing corpus-sized broadcasts. */
  test("winnowing plan: per-doc window, fingerprint equi-join, no broadcast") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.catalog.clearCache()
      val p = plan("q_winnow_overlap")
      assert(!p.contains("CartesianProduct"), s"winnowing must not cross-join:\n$p")
      assert(!p.contains("BroadcastExchange"),
        s"fingerprint table must not be broadcast:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Domain-mix rebalance: the |domains|-row rate table broadcasts even
    * with auto-broadcast off (explicit hint), so the corpus side is a
    * map-side probe + filter — the corpus itself never shuffles. */
  test("domain mix plan: rate table broadcasts, corpus never shuffles") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_domain_mix")
      assert(p.contains("BroadcastHashJoin"), s"rate table should broadcast:\n$p")
      // the corpus itself must not shuffle: every hash-partitioned
      // exchange must key on the |domains|-cardinality source column
      // (the count aggregate), never on the per-row id
      val hashEx = "Exchange hashpartitioning\\(\\w+".r.findAllIn(p).toSeq
      assert(hashEx.forall(_.contains("(source")),
        s"corpus-keyed shuffle in a map-side filter op: $hashEx\n$p")
      // and the rate table is built from ONE corpus scan (a second
      // aggregate branch would re-scan: no cross-branch CSE)
      assert("FileScan parquet".r.findAllIn(p).length == 2,
        s"expected exactly 2 corpus scans (counts + probe):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Centroid outliers: the |labels|-row centroid table broadcasts
    * (explicit hint) so the scoring pass is map-side; the only
    * corpus-touching shuffle is the algebraic (label, pos) aggregate. */
  test("centroid outlier plan: centroids broadcast onto the corpus") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_embedding_outliers")
      assert(p.contains("BroadcastHashJoin"), s"centroid table should broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"scoring must be a keyed join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** The histogram's reason to exist: global ranking WITHOUT the
    * single-partition exchange a bare `Window.orderBy` forces. The
    * final orderBy's range exchange is fine (distributed); what must
    * never appear is SinglePartition. */
  test("equi-depth histogram plan has no single-partition exchange") {
    val p = plan("q_histogram")
    assert(!p.contains("Exchange SinglePartition"),
      s"global-rank fell back to one task:\n$p")
  }

  /** Interval union's one-shuffle claim: both windows (running max
    * end, island running sum) and the island aggregate reuse ONE
    * key hash partitioning; the final per-key aggregate rides it too. */
  test("interval union plan: islands and aggregates share one key shuffle") {
    val p = plan("q_interval_union")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  /** Count-Min's scale claim: the corpus explodes map-side and
    * combines BEFORE the shuffle — the aggregate must be partial
    * (map-side combine bounds shuffle volume at depth·width rows per
    * partition) and nothing corpus-sized may broadcast. */
  test("count-min plan: partial aggregation before the shuffle, no corpus broadcast") {
    val p = plan("q_count_min")
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"sketch build must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian expected:\n$p")
  }

  /** Densify's grid claim: the day spine joins in as a BROADCAST
    * nested loop (a 1-row aggregate exploded — never a shuffled or
    * cartesian grid build). */
  test("densify plan: spine broadcasts into the grid, no cartesian product") {
    val p = plan("q_densify_locf")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"key × spine grid must be a broadcast nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian expected:\n$p")
  }

  /** The distributed ROW_NUMBER claim: dense global ids with no window
    * operator at all (a global window would funnel the table through
    * one task) and no single-partition exchange — a range sort, a
    * broadcast of the |partitions|-row offset table, a projection. */
  test("sequential ids plan: no window, no single-partition exchange, offsets broadcast") {
    val p = plan("q_seq_ids")
    assert(!p.contains("Window"),
      s"sequential ids must not plan a window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"sequential ids fell back to one task:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the offset table must broadcast:\n$p")
  }

  /** SCD2's one-shuffle claim, verified in the plan: the change-flag
    * lag, run-id running sum, run collapse and effective_to lead all
    * reuse ONE user_id hash partitioning — exactly one hash exchange
    * in the whole history build (the trailing orderBy adds only a
    * range exchange). */
  test("scd2 plan builds the whole history on one entity shuffle") {
    val p = plan("q_scd2")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
  }

  /** TF-IDF similarity: candidates must come from the df-capped
    * inverted-index equi-join — never a cartesian. The only
    * nested-loop join is the 1-row corpus-count broadcast. */
  test("tfidf plan: df-capped equi-join candidates, no cartesian") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_tfidf_sim")
      assert(!p.contains("CartesianProduct"), s"cartesian in tfidf plan:\n$p")
      // N is a driver-resolved literal: nothing may nested-loop at all
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"unexpected nested-loop join in tfidf plan:\n$p")
      assert(p.contains("sorted_pairs_dot"),
        s"verify stage should use the merge-walk dot:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Bloom-filtered exact dedup: the probe must prune the batch BEFORE
    * the fingerprint shuffle join (a Filter containing
    * bloom_might_contain below the join), and the only nested-loop
    * join is the 1-row bloom broadcast — the corpus side itself never
    * broadcasts. */
  test("bloom dedup plan: probe filter precedes the join; only the 1-row bloom broadcasts") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q_dedup_bloom")
      assert(p.contains("bloom_might_contain"),
        s"bloom probe missing from the plan:\n$p")
      // probe applies on the batch side before any exchange — either as
      // a Filter or folded into the 1-row broadcast's join condition
      // (Catalyst's preferred form; both run pre-shuffle)
      assert("(Filter|BroadcastNestedLoopJoin) .*bloom_might_contain".r
          .findAllIn(p).nonEmpty,
        s"bloom probe should prune before the fingerprint exchange:\n$p")
      // the fingerprint-confirm join shuffles; with auto-broadcast off
      // the only broadcast is the single-row bloom (nested-loop by
      // construction: it has no join key)
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
        s"expected exactly the 1-row bloom broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"fingerprint confirmation must be a shuffled equi-join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Planner-integrated data skipping (plans.StatsPruneRule): once a
    * directory is adopted and registered, a PLAIN
    * `spark.read.parquet(dir).filter(...)` must open fewer files than
    * the directory holds — no API opt-in — and return exactly the
    * unpruned rows. */
  test("registered table: plain filters prune files at planning time via stats and bloom epochs") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // force planning through AQE final plan
      physicalPlan(df).collectLeaves().collect {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length.toLong
      }.sum
    }
    val docs = sources.Tables.documents(spark, sf)
    // range layout on doc_id → stats envelopes are narrow and disjoint
    val lay = util.Scratch.dir("rule_stats_lay")
    docs.repartitionByRange(8, col("doc_id"))
      .write.mode("overwrite").parquet(lay)
    val statsRoot = util.Scratch.dir("rule_stats_meta")
    sinks.ManifestTable.adopt(spark, lay, statsRoot, Seq("doc_id")): Unit
    // hash layout on doc_id → envelopes prune nothing, blooms must
    val hashLay = util.Scratch.dir("rule_bloom_lay")
    docs.repartition(8, col("doc_id"))
      .write.mode("overwrite").parquet(hashLay)
    val bloomRoot = util.Scratch.dir("rule_bloom_meta")
    sinks.ManifestTable.adopt(spark, hashLay, bloomRoot, Seq("doc_id")): Unit
    sinks.ManifestTable.buildBloom(spark, bloomRoot, "doc_id"): Unit
    // the bits ride in the adopted manifest's entries — no side table
    assert(!new java.io.File(bloomRoot).list().exists(_.contains("bloom")))
    try {
      val want = docs.filter(col("doc_id").between(10L, 40L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // unregistered: correct but opens every file
      val before = spark.read.parquet(lay)
        .filter(col("doc_id").between(10L, 40L))
      val totalFiles = scannedFiles(spark.read.parquet(lay).filter(lit(true)))
      assert(scannedFiles(before) == totalFiles,
        "without registration nothing should be pruned")
      plans.GraftTables.register(lay, statsRoot)
      val after = spark.read.parquet(lay)
        .filter(col("doc_id").between(10L, 40L))
      assert(scannedFiles(after) < totalFiles,
        "stats registration must prune files from a plain filter scan")
      assert(after.select("doc_id").collect().map(_.getLong(0)).toSet == want,
        "pruning must be invisible in results")
      // bloom: point lookups through a plain isin filter
      plans.GraftTables.register(hashLay, bloomRoot)
      val probe = spark.read.parquet(hashLay)
        .filter(col("doc_id").isin(7L, 21L))
      val hashTotal = scannedFiles(spark.read.parquet(hashLay).filter(lit(true)))
      assert(scannedFiles(probe) < hashTotal,
        "bloom registration must prune files for equality probes")
      assert(probe.select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(7L, 21L))
      // staleness degrades to keep, never to wrong rows: rewrite the
      // layout (fresh file names) WITHOUT adopting again
      docs.repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(lay)
      val stale = spark.read.parquet(lay)
        .filter(col("doc_id").between(10L, 40L))
      assert(stale.select("doc_id").collect().map(_.getLong(0)).toSet == want,
        "stale metadata excludes nothing it can't prove — results exact")
    } finally {
      plans.GraftTables.unregister(lay)
      plans.GraftTables.unregister(hashLay)
    }
  }

  /** The inverted-index claim: the per-query plan must be INDEX-ONLY —
    * no tokenize (no Generate/explode), no documents text scan, and
    * the term probe pushed into the postings files as a parquet
    * filter. That is what makes query cost ∝ matched postings rather
    * than corpus size. */
  test("bm25 through the inverted index: no tokenize in the plan, term probe pushed to postings") {
    val root = util.Scratch.dir("planspec_bm25_idx")
    operators.Ranking.buildInvertedIndex(
      sources.Tables.documents(spark, sf), "doc_id", "text", root)
    val q = operators.Ranking.bm25TopKIndexed(
      spark, root, queries.LlmOps.Bm25Terms, k = 20)
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Generate"),
      s"indexed query must not re-tokenize (Generate found):\n$p")
    assert(!p.contains("text#") && !p.contains("documents.parquet"),
      s"indexed query must not scan the documents table:\n$p")
    assert("PushedFilters: \\[[^\\]]*In\\(tok".r.findFirstIn(p).isDefined,
      s"term probe must reach the postings scan as a pushed filter:\n$p")
    // and the two access paths agree row-for-row
    val viaIndex = q.collect().toSeq
    val viaScan = operators.Ranking.bm25TopK(
      sources.Tables.documents(spark, sf), "doc_id", "text",
      queries.LlmOps.Bm25Terms, k = 20).collect().toSeq
    assert(viaIndex == viaScan, "index path must equal the corpus-scan path")
  }

  /** The Hilbert layout × planner-pruning composition behind
    * q_planner_pruned_hilbert. The geometry to test honestly: F files
    * tiling a 3-D space give every file a per-dim extent of ~F^(-1/3)
    * (volume can't be beaten), so at small F a narrow probe CENTERED
    * on one dimension intersects most blobs. What the layout does
    * guarantee, and what these assertions pin: a 3-D BOX probe prunes
    * hard (extents multiply), and a single-dim EDGE probe prunes
    * (only the blobs touching that face can intersect) — on every one
    * of the three columns, where a single-sort layout serves exactly
    * one. */
  test("hilbert-clustered registered table: 3-D box and per-column edge probes prune files") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      physicalPlan(df).collectLeaves().collect {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length.toLong
      }.sum
    }
    // sf0.01 and 64 files: per-file extent is ~F^(-1/3) of each dim,
    // so a meaningful file count is what makes the multiplication of
    // extents visible — at toy file counts (say 16) every blob spans
    // ~40% of every dim and even an ideal layout barely skips
    val ev = sources.Tables.events(spark, "/root/testdata/sf0.01")
      .withColumn("t", unix_micros(col("ts")))
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .select("event_id", "t", "user_id", "cents")
    val dims = Seq("t", "user_id", "cents")
    val lay = util.Scratch.dir("rule_hilbert_lay")
    sinks.ParquetSink.writeZOrdered(ev, lay, dims, numFiles = 64, bits = 0)
    val statsRoot = util.Scratch.dir("rule_hilbert_meta")
    sinks.ManifestTable.adopt(spark, lay, statsRoot, dims): Unit
    def sameRows(probe: org.apache.spark.sql.DataFrame,
                 cond: org.apache.spark.sql.Column): Unit =
      assert(probe.select("event_id").collect().map(_.getLong(0)).toSet ==
        ev.filter(cond).select("event_id").collect().map(_.getLong(0)).toSet,
        "pruning must be invisible in results")
    try {
      plans.GraftTables.register(lay, statsRoot)
      val total = scannedFiles(spark.read.parquet(lay).filter(lit(true)))
      val q = dims.map(c =>
        c -> ev.stat.approxQuantile(c, Array(0.1, 0.4, 0.6), 0.001)).toMap
      // 3-D box over the middle ~20% of each dimension's mass: the
      // per-dim extents multiply, so under half the files survive
      val boxCond = dims.map(c =>
        col(c).between(q(c)(1).toLong, q(c)(2).toLong)).reduce(_ && _)
      val box = spark.read.parquet(lay).filter(boxCond)
      val boxOpened = scannedFiles(box)
      assert(boxOpened < total / 2,
        s"3-D box opened $boxOpened of $total files — curve layout not pruning")
      sameRows(box, boxCond)
      // per-column edge probe (min .. p10): only blobs on that face
      // can intersect — every one of the three columns must skip files
      for (c <- dims) {
        val cond = col(c) <= q(c)(0).toLong
        val probe = spark.read.parquet(lay).filter(cond)
        val opened = scannedFiles(probe)
        assert(opened < total,
          s"$c edge probe opened all $total files — no skipping on this dim")
        sameRows(probe, cond)
      }
    } finally plans.GraftTables.unregister(lay)
  }

  /** Whole-table COUNT/MIN/MAX over a MANIFEST table (format("graft")
    * or catalog SQL) must collapse to the manifest's own envelopes —
    * the listing and the stats are one structure, so no coverage
    * proof is even needed; a filter or untracked column degrades to
    * the scan, exactly like the registered-directory path. */
  test("manifest table aggregates answer from the manifest with zero scans") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-manifest-metaagg").toString + "/t"
    sinks.ManifestTable.create(
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), root, Seq("doc_id"))
    val agg = spark.read.format("graft").load(root).agg(
      count(lit(1)).as("n"), count(col("doc_id")).as("nn"),
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val phys = agg.queryExecution.executedPlan.toString
    assert(phys.contains("LocalTableScan") && !phys.contains("BatchScan"),
      s"manifest aggregate must plan as a LocalTableScan:\n$phys")
    val want = docs.agg(count(lit(1)), count(col("doc_id")),
      min(col("doc_id")), max(col("doc_id"))).collect()(0)
    assert(agg.collect()(0) == want)
    // the catalog SQL form gets the same collapse
    spark.conf.set("spark.sql.catalog.graftm", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftm.warehouse",
      java.nio.file.Files.createTempDirectory("graft-metaagg-wh").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftm.db")
    spark.sql(s"CREATE TABLE graftm.db.m USING graft LOCATION '$root'")
    val sqlAgg = spark.sql(
      "SELECT COUNT(*) AS n, MIN(doc_id) AS lo FROM graftm.db.m")
    val sqlPhys = sqlAgg.queryExecution.executedPlan.toString
    assert(sqlPhys.contains("LocalTableScan") && !sqlPhys.contains("BatchScan"),
      s"catalog COUNT/MIN must collapse too:\n$sqlPhys")
    assert(sqlAgg.collect()(0).getLong(0) == docs.count())
    // a filter disqualifies (plans a scan, stays exact)
    val filtered = spark.read.format("graft").load(root)
      .filter(col("doc_id") > 10L).agg(count(lit(1)).as("n"))
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.collect()(0).getLong(0) ==
      docs.filter(col("doc_id") > 10L).count())
    // an untracked column disqualifies
    val untracked = spark.read.format("graft").load(root)
      .agg(min(col("lang")).as("m"))
    assert(untracked.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(untracked.collect()(0).getString(0) ==
      docs.agg(min(col("lang"))).collect()(0).getString(0))
  }

  /** The catalog SQL path must lose nothing to the indirection: the
    * named-table read plans as the delegated DSv2 parquet scan with
    * the range predicate PUSHED, no UDFs anywhere. */
  test("catalog SQL plan: delegated BatchScan with the filter pushed down") {
    val p = plan("q_graft_sql")
    assert(p.contains("BatchScan"),
      s"named-table read must plan as the DSv2 scan:\n$p")
    assert(p.contains("LessThan(doc_id,500)"),
      s"the SQL WHERE must reach the parquet scan as a pushed filter:\n$p")
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("batchevalpython"),
      s"no UDF fallback in the catalog path:\n$p")
  }

  /** A multi-root scan (`spark.read.parquet(a, b)`) prunes each
    * REGISTERED root independently — r8 silently lost all skipping on
    * union reads over registered directories. */
  test("multi-root scan: each registered root prunes independently, results exact") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      physicalPlan(df).collectLeaves().collect {
        case s: FileSourceScanExec => s.relation.location.inputFiles.length.toLong
      }.sum
    }
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val base = java.nio.file.Files
      .createTempDirectory("graft-multiroot").toString
    val (layA, layB) = (s"$base/a", s"$base/b")
    val half = docs.count() / 2
    docs.filter(col("doc_id") <= half)
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.parquet(layA)
    docs.filter(col("doc_id") > half)
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.parquet(layB)
    val (sA, sB) = (s"$base/metaA", s"$base/metaB")
    sinks.ManifestTable.adopt(spark, layA, sA, Seq("doc_id")): Unit
    sinks.ManifestTable.adopt(spark, layB, sB, Seq("doc_id")): Unit
    try {
      plans.GraftTables.register(layA, sA)
      plans.GraftTables.register(layB, sB)
      val lo = docs.agg(min(col("doc_id"))).head().getLong(0)
      // probes the low end of A and nothing of B: B's 4 files must all
      // prove out, and most of A's too
      val probe = spark.read.parquet(layA, layB)
        .filter(col("doc_id") <= lo + 2)
      val opened = scannedFiles(probe)
      assert(opened <= 2,
        s"multi-root read must prune BOTH registered roots, opened $opened/8")
      assert(probe.select(col("doc_id")).collect().map(_.getLong(0)).toSet ==
        docs.filter(col("doc_id") <= lo + 2)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet)
      // one registered + one unregistered root: the registered one
      // still prunes, the unregistered one keeps everything
      plans.GraftTables.unregister(layB)
      val mixed = spark.read.parquet(layA, layB)
        .filter(col("doc_id") <= lo + 2)
      val openedMixed = scannedFiles(mixed)
      assert(openedMixed <= 1 + 4 && openedMixed > opened,
        s"mixed registration must keep all of B, got $openedMixed")
      assert(mixed.select(col("doc_id")).collect().map(_.getLong(0)).toSet ==
        docs.filter(col("doc_id") <= lo + 2)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet)
    } finally { plans.GraftTables.unregister(layA)
      plans.GraftTables.unregister(layB) }
  }

  /** Version-keyed proofs in the epoch cache: planning a hot table twice must
    * compute the metadata proofs ONCE (the second identical query
    * issues no metadata job), and a new adopt commit must invalidate
    * structurally (version in the key), with pruning still exact. */
  test("planning proof cache: second identical query recomputes nothing; a commit invalidates") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val lay = java.nio.file.Files
      .createTempDirectory("graft-proofcache").toString + "/lay"
    docs.repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions(col("doc_id")).write.parquet(lay)
    val statsRoot = java.nio.file.Files
      .createTempDirectory("graft-proofcache-meta").toString + "/meta"
    sinks.ManifestTable.adopt(spark, lay, statsRoot, Seq("doc_id")): Unit
    try {
      plans.GraftTables.register(lay, statsRoot)
      val lo = docs.agg(min(col("doc_id"))).head().getLong(0)
      def run(): Set[Long] = spark.read.parquet(lay)
        .filter(col("doc_id") <= lo + 2)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val want = docs.filter(col("doc_id") <= lo + 2)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val c0 = plans.StatsPruneRule.proofComputations.get()
      assert(run() == want)
      val c1 = plans.StatsPruneRule.proofComputations.get()
      assert(c1 > c0, "first plan must compute the proof")
      assert(run() == want)
      assert(plans.StatsPruneRule.proofComputations.get() == c1,
        "the second identical query must be a pure cache hit — zero " +
          "metadata computations or jobs")
      // a fresh JVM's empty cache recomputes the same proof
      graft.util.EpochCache.clear()
      assert(run() == want)
      val c1b = plans.StatsPruneRule.proofComputations.get()
      assert(c1b > c1, "a cleared cache must recompute the proof")
      // a fresh adopt commit (new data appended, then adopted) bumps
      // the manifest version: the cache key changes, the proof
      // recomputes, and pruning stays exact over the grown table
      docs.filter(col("doc_id") === lo).withColumn("doc_id", col("doc_id") - 1)
        .repartition(1).write.mode("append").parquet(lay)
      sinks.ManifestTable.adopt(spark, lay, statsRoot, Seq("doc_id")): Unit
      val c2 = plans.StatsPruneRule.proofComputations.get()
      val wantGrown = want + (lo - 1)
      assert(run() == wantGrown, "post-commit read must see the new row")
      assert(plans.StatsPruneRule.proofComputations.get() > c2,
        "an adopt commit must invalidate the cached proof")
    } finally plans.GraftTables.unregister(lay)
  }

  /** Metadata-only aggregates (plans.MetaAggRule): a whole-table
    * COUNT/MIN/MAX over a registered directory must collapse to a
    * LocalRelation at optimization time — no file scan at all — and
    * the rewrite must refuse to fire (degrading to a correct scan)
    * for filtered aggregates and for a manifest that no longer covers
    * the live file set. */
  test("registered table: whole-table count/min/max answers from the stats epoch, no scan") {
    import org.apache.spark.sql.functions._
    val docs = sources.Tables.documents(spark, sf)
    val lay = util.Scratch.dir("rule_meta_agg_lay")
    docs.repartition(6).write.mode("overwrite").parquet(lay)
    val statsRoot = util.Scratch.dir("rule_meta_agg_meta")
    sinks.ManifestTable.adopt(spark, lay, statsRoot, Seq("doc_id")): Unit
    // commit `entries` as the adopted root's next manifest version,
    // carrying the current version's table metadata (schema and
    // adopted directory) in its record (the poisoned entries below
    // mimic footers whose writer omitted stats)
    def commitEntries(entries: org.apache.spark.sql.DataFrame): Unit =
      sinks.ManifestLogProbe.commitEntries(spark, statsRoot, entries)
    val exact = sinks.ManifestTable.manifest(spark, statsRoot,
      sinks.ManifestTable.latestVersion(spark, statsRoot)).collect().toSeq
    val exactSchema = sinks.ManifestTable.manifest(spark, statsRoot,
      sinks.ManifestTable.latestVersion(spark, statsRoot)).schema
    try {
      plans.GraftTables.register(lay, statsRoot)
      val agg = spark.read.parquet(lay).agg(
        count(lit(1)).as("n"), count(col("doc_id")).as("nn"),
        min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      val phys = agg.queryExecution.executedPlan.toString
      assert(phys.contains("LocalTableScan") && !phys.contains("FileScan"),
        s"metadata aggregate must plan as a LocalTableScan:\n$phys")
      val want = docs.agg(count(lit(1)), count(col("doc_id")),
        min(col("doc_id")), max(col("doc_id"))).collect()(0)
      assert(agg.collect()(0) == want,
        "metadata answer must equal the full-scan answer")
      // a filter disqualifies: plan scans, result stays exact
      val filtered = spark.read.parquet(lay)
        .filter(col("doc_id") > 10L).agg(count(lit(1)).as("n"))
      assert(filtered.queryExecution.executedPlan.toString.contains("FileScan"),
        "filtered aggregate must not use the metadata path")
      assert(filtered.collect()(0).getLong(0) ==
        docs.filter(col("doc_id") > 10L).count())
      // an untracked column disqualifies
      val untracked = spark.read.parquet(lay).agg(min(col("lang")).as("m"))
      assert(untracked.queryExecution.executedPlan.toString.contains("FileScan"),
        "untracked column must not use the metadata path")
      // COUNT(NULL) is 0, never Σ row_count — the null literal must not
      // match the COUNT(*) shape (Spark folds it to 0 itself; the
      // guard is that OUR rewrite doesn't beat it with the row count)
      val cnull = spark.read.parquet(lay)
        .agg(count(lit(null)).as("n"))
      assert(cnull.collect()(0).getLong(0) == 0L,
        "COUNT(null literal) must not rewrite to the row-count sum")
      // PARTIAL-UNKNOWN stats: one file's cells recorded as NULL
      // (footer stats a writer omitted) among known files. The global
      // null-skipping fold would return a plausible wrong answer, so
      // any consulted unknown cell must force a scan; aggregates that
      // consult only row_count may still answer from metadata.
      val poisoned = spark.createDataFrame(
          java.util.Arrays.asList(exact: _*), exactSchema)
        .withColumn("_rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("path"))))
        .withColumn("doc_id_nulls",
          when(col("_rn") === 1, lit(null).cast("long"))
            .otherwise(col("doc_id_nulls")))
        .withColumn("doc_id_min",
          when(col("_rn") === 1, lit(null).cast("long"))
            .otherwise(col("doc_id_min")))
        .withColumn("doc_id_max",
          when(col("_rn") === 1, lit(null).cast("long"))
            .otherwise(col("doc_id_max")))
        .drop("_rn")
      commitEntries(poisoned)
      val unknownCnt = spark.read.parquet(lay)
        .agg(count(col("doc_id")).as("nn"))
      assert(unknownCnt.queryExecution.executedPlan.toString.contains("FileScan"),
        "a NULL null-count cell among known cells must force a scan")
      assert(unknownCnt.collect()(0).getLong(0) ==
        docs.filter(col("doc_id").isNotNull).count())
      val unknownMin = spark.read.parquet(lay)
        .agg(min(col("doc_id")).as("lo"))
      assert(unknownMin.queryExecution.executedPlan.toString.contains("FileScan"),
        "a NULL min cell without an all-NULL proof must force a scan")
      assert(unknownMin.collect()(0).getLong(0) ==
        docs.agg(min(col("doc_id"))).collect()(0).getLong(0))
      val rowsOnly = spark.read.parquet(lay).agg(count(lit(1)).as("n"))
      val rowsPhys = rowsOnly.queryExecution.executedPlan.toString
      assert(rowsPhys.contains("LocalTableScan") && !rowsPhys.contains("FileScan"),
        "COUNT(*) consults only exact row counts — unknown cells in " +
          "other columns must not disqualify it")
      assert(rowsOnly.collect()(0).getLong(0) == docs.count())
      // restore exact stats for the staleness case below
      commitEntries(spark.createDataFrame(
        java.util.Arrays.asList(exact: _*), exactSchema))
      // staleness: rewrite the layout (different rows, fresh names)
      // WITHOUT adopting again — coverage proof fails, the scan runs,
      // and the answer reflects the LIVE data, not the stale manifest
      docs.filter(col("doc_id") < 20L).repartition(2)
        .write.mode("overwrite").parquet(lay)
      val stale = spark.read.parquet(lay).agg(count(lit(1)).as("n"))
      assert(stale.queryExecution.executedPlan.toString.contains("FileScan"),
        "uncovered scan must not use the metadata path")
      assert(stale.collect()(0).getLong(0) ==
        docs.filter(col("doc_id") < 20L).count())
    } finally plans.GraftTables.unregister(lay)
  }

  test("DV-aware statistics: a mostly-deleted small side still broadcasts — live bytes and exact live rows, not raw file size") {
    import sinks.ManifestTable
    import org.apache.spark.sql.functions.{col, concat, lit, sum}
    val base = java.nio.file.Files
      .createTempDirectory("graft-dv-stats").toString
    val dim = s"$base/dim"; val fact = s"$base/fact"
    // a padded dim whose RAW bytes exceed the broadcast threshold we
    // set below, but whose LIVE bytes (after a 95% delete) undercut it
    ManifestTable.create(
      spark.range(20000).select(col("id").as("k"),
        concat(lit("pad-" * 40), col("id")).as("label")).coalesce(1),
      dim, Seq("k"))
    ManifestTable.deleteWhereMor(spark, dim, col("k") % 20L =!= 0L)
    ManifestTable.create(
      spark.range(200000).select((col("id") % 20000L).as("k"),
        col("id").as("x")), fact, Seq("k"))
    val v = ManifestTable.latestVersion(spark, dim)
    val rawBytes = ManifestTable.manifest(spark, dim, v)
      .agg(sum(col("size"))).head().getLong(0)
    // the scan's reported statistics: live-scaled bytes, exact rows
    val dimDf = spark.read.format("graft").load(dim)
    val rel = dimDf.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r }
    assert(rel.nonEmpty, "expected a DSv2 scan relation")
    val stats = rel.get.computeStats()
    assert(stats.sizeInBytes.toLong < rawBytes / 10,
      s"a 95%-deleted file must report ~5% of its $rawBytes raw bytes, " +
        s"got ${stats.sizeInBytes}")
    assert(stats.rowCount.contains(BigInt(1000)),
      s"exact live rows (20000 − 19000) expected, got ${stats.rowCount}")
    // and the broadcast DECISION follows: threshold between live and
    // raw bytes → the vectored dim still broadcasts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (rawBytes / 2).toString)
      val joined = spark.read.format("graft").load(fact)
        .join(dimDf, "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"),
        s"the live-small DV side must broadcast under a threshold of " +
          s"${rawBytes / 2}:\n$p")
      assert(joined.count() == 10000L)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucket-transform pruning: point/IN probes on a bucketed key plan only the matching buckets' files — conf-independent, surviving DV and rename") {
    import sinks.ManifestTable
    import sources.v2.{GraftDvCleanPartition, GraftDvFilePartition}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = java.nio.file.Files
      .createTempDirectory("graft-bucket-prune").toString + "/t"
    ManifestTable.create(
      spark.range(4000).select(col("id").as("k"), (col("id") * 2).as("v")),
      root, Seq("k"), bucketBy = Some(("k", 8)))
    // a second landing over the SAME key range (every file's envelope
    // spans every probe — the prunes below can only be the bucket
    // transform's): every bucket now holds 2 files, 16 total
    ManifestTable.write(
      spark.range(4000).select(col("id").as("k"),
        (col("id") * 3).as("v")), root)
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Int = plannedDataFiles(df)
    def load() = spark.read.format("graft").load(root)
    assert(filesPlanned(load()) == 16, "expected 2 files per bucket")
    // point probe: 1/8 of the files (envelopes are useless on a
    // hash-distributed key — this prune is the bucket transform's)
    val point = load().filter(col("k") === 1234L)
    assert(filesPlanned(point) == 2,
      s"a point probe must plan one bucket (2 files), " +
        s"got ${filesPlanned(point)}")
    assert(point.collect().map(_.getLong(1)).toSet == Set(2468L, 3702L))
    // IN probe: at most |literals| buckets
    val inProbe = load().filter(col("k").isin(5L, 2005L, 77L))
    assert(filesPlanned(inProbe) <= 6,
      s"an IN(3) probe must plan <= 3 buckets, got ${filesPlanned(inProbe)}")
    assert(inProbe.collect().map(_.getLong(0)).toSet == Set(5L, 2005L, 77L))
    // composes with deletion vectors: the probed bucket's file gains a
    // vector; pruning still applies and the dead key stays dead
    ManifestTable.deleteWhereMor(spark, root, col("k") === 1234L)
    val pointDv = load().filter(col("k") === 1234L)
    assert(filesPlanned(pointDv) <= 2,
      s"DV must not disable bucket pruning, got ${filesPlanned(pointDv)}")
    assert(pointDv.count() == 0L)
    // composes with RENAME COLUMN: the transform speaks the new
    // logical name, the layout's physical key is frozen
    ManifestTable.renameColumn(spark, root, "k", "kk")
    val pointRn = load().filter(col("kk") === 321L)
    assert(filesPlanned(pointRn) == 2,
      s"rename must not disable bucket pruning, got ${filesPlanned(pointRn)}")
    assert(pointRn.collect().map(_.getLong(1)).toSet == Set(642L, 963L))
    // a non-point predicate keeps every file (conservative)
    assert(filesPlanned(load().filter(col("kk") > 0L)) >= 16 - 1)

    // MULTI-COLUMN grid: each key hashes into its own dimension, so
    // pinning ONE key prunes that dimension (1/n of the grid) and
    // pinning both prunes to a single cell
    val root2 = java.nio.file.Files
      .createTempDirectory("graft-bucket-prune2").toString + "/t"
    ManifestTable.create(
      spark.range(4000).select((col("id") % 50).as("a"),
        (col("id") % 39).as("b"), col("id").as("v")),
      root2, Seq("v"), bucketBy = Some(("a,b", 4)))
    def load2() = spark.read.format("graft").load(root2)
    val all2 = filesPlanned(load2())
    assert(all2 > 8, s"the grid landing should occupy many cells: $all2")
    val oneKey = load2().filter(col("a") === 7L)
    assert(filesPlanned(oneKey) <= (all2 + 3) / 4,
      s"pinning one of two keys must prune a grid dimension: " +
        s"${filesPlanned(oneKey)} of $all2")
    assert(oneKey.collect().map(_.getLong(2)).toSet ==
      (0L until 4000L).filter(_ % 50 == 7).toSet)
    val bothKeys = load2().filter(col("a") === 7L && col("b") === 7L)
    assert(filesPlanned(bothKeys) <= (all2 + 15) / 16 + 1,
      s"pinning both keys must prune to ~one cell: " +
        s"${filesPlanned(bothKeys)}")
    assert(bothKeys.collect().map(_.getLong(2)).toSet ==
      (0L until 4000L).filter(i => i % 50 == 7 && i % 39 == 7).toSet)
  }

  /** Cost-based planning should see what the manifest already knows:
    * exact row counts always (free — the file list is in hand), and
    * per-column envelope min/max + null counts when CBO asks (one
    * lazy metadata aggregate; CBO-off sessions never pay it). */
  test("cost-based planning sees manifest statistics: exact rows, envelope min/max, null counts") {
    import sinks.ManifestTable
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files
      .createTempDirectory("graft-cbo").toString + "/t"
    ManifestTable.create(
      spark.range(10000).select(col("id").as("k"), (col("id") % 100).as("v")),
      root, Seq("k"))
    // exact rows flow into planning with CBO off
    val df = spark.read.format("graft").load(root)
    assert(df.queryExecution.optimizedPlan.stats.rowCount
      .contains(BigInt(10000)),
      s"planning must see exact rows: ${df.queryExecution.optimizedPlan.stats}")
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val df2 = spark.read.format("graft").load(root)
      val plan2 = df2.queryExecution.optimizedPlan
      val attr = plan2.output.find(_.name == "k").get
      val cs = plan2.stats.attributeStats.get(attr)
      assert(cs.nonEmpty,
        s"CBO must see the tracked column's stats: ${plan2.stats}")
      assert(cs.get.min.contains(0L) && cs.get.max.contains(9999L),
        s"envelope min/max expected, got ${cs.get}")
      assert(cs.get.nullCount.contains(BigInt(0)),
        s"null count expected, got ${cs.get}")
      // before ANALYZE: no NDV anywhere (the planner falls back to
      // defaults, never to a wrong number)
      assert(cs.get.distinctCount.isEmpty)
      // one HLL pass; the sidecar carries into later commits, and the
      // join-cardinality driver appears — INCLUDING on v, a column
      // the envelopes don't track (the NDV-only statistics path)
      ManifestTable.analyzeTable(spark, root)
      ManifestTable.write(
        spark.range(1).select(col("id").as("k"), col("id").as("v")), root)
      val df3 = spark.read.format("graft").load(root)
      val plan3 = df3.queryExecution.optimizedPlan
      def ndvOf(name: String): Option[BigInt] =
        plan3.stats.attributeStats
          .find(_._1.name == name).flatMap(_._2.distinctCount)
      // approx_count_distinct is within ~2% at these cardinalities
      assert(ndvOf("k").exists(n => n > 9500 && n < 10500),
        s"k NDV expected ~10000: ${ndvOf("k")}")
      assert(ndvOf("v").exists(n => n > 95 && n < 105),
        s"v NDV expected ~100 (untracked column, NDV-only): ${ndvOf("v")}")
    } finally prev.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
      spark.conf.set("spark.sql.cbo.enabled", _))
  }

  /** RUNTIME file filtering (dynamic pruning at the file grain): the
    * dim side's surviving join keys exist only at execution, so static
    * planning reads every fact file — the runtime-filterable scan
    * must take the keys from the dynamic-pruning subquery and keep
    * only the files the manifest envelopes can hold them in. */
  test("limit pushdown: an unfiltered LIMIT plans only the file prefix that covers it — manifest-exact counts, DV-aware, always a partial push") {
    import sinks.ManifestTable
    import sources.v2.{GraftDvCleanPartition, GraftDvFilePartition}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = java.nio.file.Files
      .createTempDirectory("graft-limit").toString + "/t"
    // 8 range files × 1000 rows, footer-exact counts in the manifest
    ManifestTable.create(
      spark.range(8000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartitionByRange(8, col("k")).sortWithinPartitions(col("k")),
      root, Seq("k"))
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Int = plannedDataFiles(df)
    def load() = spark.read.format("graft").load(root)
    // LIMIT 10 needs one 1000-row file — 7 of 8 never plan a task
    val lim = load().limit(10)
    assert(lim.collect().length == 10)
    assert(filesPlanned(lim) == 1,
      s"LIMIT 10 over 8×1000-row files must plan 1 file, " +
        s"got ${filesPlanned(lim)}")
    // a limit crossing file edges keeps exactly enough files
    val mid = load().limit(2500)
    assert(mid.collect().length == 2500)
    assert(filesPlanned(mid) == 3,
      s"LIMIT 2500 needs 3×1000-row files, got ${filesPlanned(mid)}")
    // limit ≥ table: nothing prunes, the full answer serves
    val all = load().limit(10000)
    assert(all.collect().length == 8000)
    assert(filesPlanned(all) == 8,
      "an uncoverable limit must keep the full listing")
    // a filter above the scan keeps Spark from offering the limit at
    // all — every matching row must survive; values stay exact
    val filt = load().filter(col("k") >= 7900L).limit(5).collect()
    assert(filt.length == 5 && filt.forall(_.getAs[Long]("k") >= 7900L))
    // DV composition: vector out most of one file — its rows leave
    // the exact-count map (it rides the filtered branch), the CLEAN
    // prefix still covers the limit, and no deleted row resurrects
    ManifestTable.deleteWhereMor(spark, root, col("k") < 990L)
    val limDv = load().limit(1000)
    val rows = limDv.collect()
    assert(rows.length == 1000)
    assert(rows.forall(_.getAs[Long]("k") >= 990L),
      "a limit-pruned read must never serve vectored-out rows")
    assert(filesPlanned(limDv) <= 3,
      s"LIMIT 1000 under one vectored file needs ≤ 1 clean file + the " +
        s"DV file, got ${filesPlanned(limDv)}")
  }

  test("top-n pushdown: ORDER BY k LIMIT n plans only the provably-winning files — both directions, null placement exact, uncoverable keeps all") {
    import sinks.ManifestTable
    import sources.v2.{GraftDvCleanPartition, GraftDvFilePartition}
    import org.apache.spark.sql.functions.{col, when}
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = java.nio.file.Files
      .createTempDirectory("graft-topn").toString + "/t"
    // 8 range-clustered files; ids < 100 carry NULL k and range-sort
    // into the first file, so null handling is observable per file
    ManifestTable.create(
      spark.range(8000).select(
        when(col("id") < 100, null).otherwise(col("id")).as("k"),
        col("id").as("v"))
        .repartitionByRange(8, col("k")).sortWithinPartitions(col("k")),
      root, Seq("k"))
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Int = plannedDataFiles(df)
    def load() = spark.read.format("graft").load(root)
    // ASC default = NULLS FIRST: the 100 exact nulls alone cover a
    // top-10, so ONLY the null-bearing file plans
    val ascNf = load().orderBy("k").limit(10)
    assert(ascNf.collect().forall(r => r.isNullAt(0)),
      "ASC NULLS FIRST top-10 must be all NULLs")
    assert(filesPlanned(ascNf) == 1,
      s"nulls cover the limit — 1 file, got ${filesPlanned(ascNf)}")
    // crossing from nulls into values stays within the leading file
    val cross = load().orderBy("k").limit(150).collect()
    assert(cross.count(_.isNullAt(0)) == 100 &&
      cross.filter(!_.isNullAt(0)).map(_.getLong(0)).toSeq.sorted ==
        (100L until 150L).toSeq)
    assert(filesPlanned(load().orderBy("k").limit(150)) == 1)
    // NULLS LAST: values lead — the 50 smallest ks, exactly ordered
    val ascNl = load().orderBy(col("k").asc_nulls_last).limit(50)
    assert(ascNl.collect().map(_.getLong(0)).toSeq ==
      (100L until 150L).toSeq)
    assert(filesPlanned(ascNl) == 1,
      s"50 smallest values live in the first file, " +
        s"got ${filesPlanned(ascNl)}")
    // DESC default = NULLS LAST: the 10 largest ks from the last file
    val desc = load().orderBy(col("k").desc).limit(10)
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      (7999L to 7990L by -1L).toSeq)
    assert(filesPlanned(desc) == 1,
      s"DESC top-10 lives in the trailing file, got ${filesPlanned(desc)}")
    // DESC NULLS FIRST: back to the null-bearing file alone
    val descNf = load().orderBy(col("k").desc_nulls_first).limit(50)
    assert(descNf.collect().forall(r => r.isNullAt(0)))
    assert(filesPlanned(descNf) == 1)
    // an uncoverable top-n keeps the full listing and the full answer
    val all = load().orderBy("k").limit(9000)
    assert(all.collect().length == 8000)
    assert(filesPlanned(all) == 8)
  }

  test("top-n pushdown: UTF8_BINARY string keys prune; a two-key sort proves on the leading key; a non-binary collation abstains") {
    import sinks.ManifestTable
    import org.apache.spark.sql.functions.{col, expr}
    val root = java.nio.file.Files
      .createTempDirectory("graft-topn-str").toString + "/t"
    // 8 range-clustered files on a NON-UNIQUE string key (500
    // distinct values × 16 rows) — the two-key sort's tie-breaks are
    // real, and the leading-key proof must still hold
    ManifestTable.create(
      spark.range(8000).selectExpr(
        "format_string('s%03d', id % 500) as s", "id as v"),
      root, Seq("s"))
    ManifestTable.optimize(spark, root, sortCols = Seq("s"), numFiles = 8)
    def load() = spark.read.format("graft").load(root)
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Int =
      plannedDataFiles(df)
    val full = load().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // string key, both directions: the default collation's sort IS
    // the unsigned UTF-8 byte order the envelopes fold under
    val asc = load().orderBy("s").limit(20)
    assert(asc.collect().map(_.getString(0)).toSeq ==
      full.map(_._1).sorted.take(20))
    assert(filesPlanned(asc) == 1,
      s"string ASC top-20 lives in the leading file, " +
        s"got ${filesPlanned(asc)}")
    val desc = load().orderBy(col("s").desc).limit(20)
    assert(desc.collect().map(_.getString(0)).toSeq ==
      full.map(_._1).sorted.reverse.take(20))
    assert(filesPlanned(desc) == 1)
    // TWO-KEY lexicographic sort: the leading key's envelope proof
    // covers it (any row excluded on s strictly follows >= 20 rows
    // regardless of v); the retained Sort does the v tie-breaks
    val two = load().orderBy(col("s").asc, col("v").desc).limit(20)
    assert(two.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      full.sortBy { case (s, v) => (s, -v) }.take(20),
      "tie-broken values must hash-match the unpruned sort")
    assert(filesPlanned(two) == 1,
      s"two-key top-20 proves on the leading key, " +
        s"got ${filesPlanned(two)}")
    // numeric leading key with a string tie-break rides the same proof
    val twoNum = load().orderBy(col("v").desc, col("s").asc).limit(10)
    assert(twoNum.collect().map(_.getLong(1)).toSeq ==
      full.map(_._2).sorted.reverse.take(10))
    // a NON-BINARY collation sorts differently than the byte-ordered
    // envelopes — the proof must abstain and keep every file
    val coll = load()
      .orderBy(expr("collate(s, 'UTF8_LCASE')")).limit(20)
    assert(coll.collect().length == 20)
    assert(filesPlanned(coll) == 8,
      s"non-binary collation must not prune, got ${filesPlanned(coll)}")
  }

  test("runtime file filtering: a dim-filtered broadcast join prunes fact files at execution via the manifest proofs") {
    import sinks.ManifestTable
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions.{broadcast, col, concat, lit}
    val root = java.nio.file.Files
      .createTempDirectory("graft-dpp").toString + "/t"
    // 8 range-partitioned files → per-file disjoint key envelopes:
    // a narrow dim probe can only live in one of them
    ManifestTable.create(
      spark.range(80000).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartitionByRange(8, col("k")).sortWithinPartitions(col("k")),
      root, Seq("k"))
    val saved = Seq("spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val dim = spark.range(100)
        .select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
        .filter(col("k") < 50)
      val fact = spark.read.format("graft").load(root)
      val joined = fact.join(broadcast(dim), "k")
      // execute THIS plan (count() would build a separate
      // QueryExecution and the inspected scan would never run)
      val rows = joined.collect()
      assert(rows.length == 50)
      val scans = physicalPlan(joined).collect {
        case b: BatchScanExec => b }
      val factScan = scans.map(_.scan).collectFirst {
        case s: sources.v2.GraftRuntimeFilterScan => s }
      assert(factScan.nonEmpty,
        s"the manifest scan must be runtime-filterable:\n" +
          joined.queryExecution.executedPlan)
      assert(scans.exists(_.runtimeFilters.nonEmpty),
        s"the planner must inject a dynamic-pruning filter:\n" +
          joined.queryExecution.executedPlan)
      val planned = factScan.get.lastPlannedFiles
      assert(planned >= 1 && planned <= 2,
        s"the 50-key probe lives in 1 range file; runtime filtering " +
          s"planned $planned of 8")
      // values correct through the pruned read
      assert(rows.map(_.getAs[Long]("v")).toSet ==
        (0L until 50L).map(_ * 2).toSet)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
