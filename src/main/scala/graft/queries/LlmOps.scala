package graft.queries

import graft.QueryModule
import graft.functions.TextAnalysis
import graft.operators.{Chunking, CorpusQuality, Dedup, Multimodal, Similarity, TfIdf}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators bound to the synthetic corpus:
  * dedup family (exact / n-gram Jaccard / MinHash-LSH / SimHash /
  * embedding cosine), ANN search (brute-force + IVF), text analysis,
  * multimodal metadata. Thresholds calibrated on the corpus: word-bigram
  * Jaccard separates 25 planted near-dup pairs (J ≥ 0.5) from a ≤ 0.12
  * background; embedding cosine tail starts ≈ 0.45.
  */
object LlmOps extends QueryModule {

  val JaccardThreshold = 0.5
  val CosineThreshold = 0.45

  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDuplicateGroups(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("rep_doc_id"))

  /** Bloom-runtime-filtered incremental exact dedup: batch docs whose
    * canonical fingerprint already exists in the stored corpus. The
    * Bloom prune is invisible in the output contract (no false
    * negatives; positives exact-verified), so the oracle is the plain
    * fingerprint join. 2^16 bits ≈ 18 bits/corpus-doc here — same
    * bits/doc ratio a 128 MB filter gives 10^8 docs. */
  def qDedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    Dedup.exactCrossDups(
      d.filter(col("doc_id") % IncrementalBatchMod === IncrementalBatchRem),
      d.filter(col("doc_id") % IncrementalBatchMod =!= IncrementalBatchRem),
      "doc_id", "text", numBits = 1 << 16, numHashes = 5)
      .orderBy(col("doc_id"))
  }

  /** Materialize a small-but-expensive result before a global sort:
    * the sort's range partitioner SAMPLES its child with a separate
    * job, so an un-materialized child — here the verify probe walking
    * every candidate pair — executes TWICE per action (guide §1.4/§2:
    * don't compute things twice). Caching the (tiny) verified pair set
    * pins the rows at the sampling pass; the sort then re-reads them.
    * cache, NOT localCheckpoint: a checkpoint rewrites the plan to a
    * bare RDD and silently drops the operator's `observe` node — the
    * candidate-count metrics the bench artifact records would read 0.
    * Identical rows, identical order — only the double probe
    * disappears. */
  private def sortedOnce(df: DataFrame,
                         by: org.apache.spark.sql.Column*): DataFrame =
    df.cache().orderBy(by: _*)

  def qDedupJaccard(spark: SparkSession, dir: String): DataFrame =
    sortedOnce(
      Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        JaccardThreshold),
      col("doc_a"), col("doc_b"))

  /** Document-frequency cap for the bounded Jaccard path: on this
    * corpus's tiny hot vocabulary it keeps every pair-discriminating
    * shingle (the planted near-dups share df≈2 keys) while excluding the
    * corpus-wide keys that defeat prefix pruning — at sf0.1 candidates
    * drop from ~7.1M (57% of all pairs) to ~1.1k. */
  val JaccardMaxDf = 20L

  /** The bounded (df-capped) Jaccard path — the candidate-generation
    * mode a 100 TB user would run on a stop-word-heavy corpus, in the
    * correctness gate with the cap replicated in the oracle. Output
    * contract: pairs with J ≥ t sharing ≥1 shingle with 2 ≤ df ≤ cap. */
  def qDedupJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    sortedOnce(
      Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        JaccardThreshold, maxDf = Some(JaccardMaxDf)),
      col("doc_a"), col("doc_b"))

  /** TF-IDF cosine near-dup pairs (operators.TfIdf): integer-exact
    * threshold arithmetic end to end, so the ≥0.6 decision is
    * engine-independent. Candidates df-capped at [[JaccardMaxDf]] like
    * the capped Jaccard path; similarity computed on full vectors. */
  def qTfidfSim(spark: SparkSession, dir: String): DataFrame =
    sortedOnce(
      TfIdf.similarPairs(Tables.documents(spark, dir), "doc_id", "text",
        thresholdPct = 60, maxDf = JaccardMaxDf),
      col("doc_a"), col("doc_b"))

  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    sortedOnce(
      Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
        JaccardThreshold),
      col("doc_a"), col("doc_b"))

  /** Batch membership for the incremental-dedup query: every 10th doc
    * (offset 7) plays the incoming batch; the rest are the stored
    * corpus. */
  val IncrementalBatchMod = 10
  val IncrementalBatchRem = 7

  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    sortedOnce(
      Dedup.minhashLshPairsAcross(
        d.filter(col("doc_id") % IncrementalBatchMod === IncrementalBatchRem),
        d.filter(col("doc_id") % IncrementalBatchMod =!= IncrementalBatchRem),
        "doc_id", "text", JaccardThreshold),
      col("new_id"), col("corpus_id"))
  }

  /** [[qDedupIncremental]] through the PERSISTED MinHash index — the
    * VERSIONED path: the stored-corpus side is committed as an epoch
    * with [[Dedup.saveMinhashIndexVersioned]] (always-readable pointer
    * flip) and resolved back through the pointer
    * ([[Dedup.loadMinhashIndexVersioned]], validating the build-params
    * sidecar) instead of being re-shingled — the plan a real
    * incremental dedup runs per batch at 100 TB. Output contract is
    * identical to the rescan variant (OperatorsSpec proves the two
    * bit-equal), so this gate shares q_dedup_incremental's oracle. */
  def qDedupIncrementalIdx(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val idxRoot = graft.util.Scratch.dir("mh_index")
    Dedup.saveMinhashIndexVersioned(
      d.filter(col("doc_id") % IncrementalBatchMod =!= IncrementalBatchRem),
      "doc_id", "text", idxRoot)
    sortedOnce(
      Dedup.minhashLshPairsAcrossIndexed(
        d.filter(col("doc_id") % IncrementalBatchMod === IncrementalBatchRem),
        Dedup.loadMinhashIndexVersioned(spark, idxRoot),
        "doc_id", "text", JaccardThreshold),
      col("new_id"), col("corpus_id"))
  }

  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text", 3)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Pairs → transitive clusters → representative per doc (the
    * keep-one-per-cluster decision). Bound to the SimHash pair source:
    * its hamming≤3 graph is the densest of the dedup family (chains of
    * drifting near-dups), so transitivity actually matters here. The
    * operator itself takes any pair DataFrame. Oracle: recursive-CTE
    * label propagation over the same pair set. */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(
      Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text", 3))
      .orderBy(col("doc_id"))

  /** The dedup pipeline's last step as a gated query: embedding
    * near-dup pairs → transitive clusters → corpus filtered to cluster
    * representatives (+ all singletons). Oracle: the same recursive-CTE
    * clustering over the same pair set, anti-joined in SQL. */
  def qDedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Dedup.keepClusterRepresentatives(
      emb.select(col("vec_id")),
      Dedup.embeddingPairs(emb, "vec_id", "embedding", CosineThreshold,
        blockCol = Some("label")),
      "vec_id", aCol = "vec_a", bCol = "vec_b")
      .orderBy(col("vec_id"))
  }

  /** Quality-aware survivor selection (Dedup.keepBestInCluster) over
    * the same embedding near-dup clusters as q_dedup_keep, scored by
    * the aligned document's n_chars (doc_id == vec_id): in each
    * cluster the LONGEST document survives, ties to the smaller id. */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val scores = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("n_chars"))
    Dedup.keepBestInCluster(
      emb.select(col("vec_id")).join(scores, Seq("vec_id")),
      Dedup.embeddingPairs(emb, "vec_id", "embedding", CosineThreshold,
        blockCol = Some("label")),
      "vec_id", "n_chars", aCol = "vec_a", bCol = "vec_b")
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** Blocked on `label` (the corpus's coarse cluster id): pair scoring
    * runs within blocks only — an equi-join shuffle, never a corpus-wide
    * cross join. At 100 TB the block key comes from an ANN/LSH candidate
    * stage (see Similarity.ivfTopK) instead of a stored column. */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      CosineThreshold, blockCol = Some("label"))
      .orderBy(col("vec_a"), col("vec_b"))

  /** SRP-LSH candidate stage + exact-cosine verify — no stored block
    * column, no cross join; the deterministic hyperplanes are re-derived
    * arithmetically inside the oracle SQL. */
  def qDedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingLshPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      CosineThreshold, dim = 64)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Brute force carries a bounded-query-set contract (the query side
    * always broadcasts), so this binding is the small-query case. The
    * IVF bindings below select a corpus-PROPORTIONAL query set
    * (vec_id % 25 — 4% of the corpus), which outgrows any broadcast at
    * scale: they pass broadcastQueries = false so the probe is a plain
    * cell equi-join (AQE may still broadcast at runtime while small). */
  def qAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb.filter(col("vec_id") % 25 === 0), emb,
      "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The quantized scale path for the same query set: int8 arrays,
    * integer dot products (scales cancel out of the cosine), exact
    * oracle. Recall vs the float path is inspected in OperatorsSpec. */
  def qAnnTopKQuant(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopKQuantized(emb.filter(col("vec_id") % 25 === 0),
      emb, "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("rank"))
  }

  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(emb.filter(col("vec_id") % 25 === 0), emb,
      "vec_id", "embedding", "label", 5, broadcastQueries = false)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ (coarse cell prune → ADC shortlist → exact rerank) under
    * the same recall-flag oracle as q_ann_pq. Gated at nprobe = nCells
    * (the q_ann_ivf_kmeans precedent: exhaustive probing is the
    * oracle-stable configuration); recall at partial nprobe — the
    * production setting — is spec-verified in OperatorsSpec. The query
    * set is corpus-proportional, so broadcastQueries = false: the probe
    * is a cell equi-join, both sides shuffle by cell. */
  def qAnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).cache()
    val q = emb.filter(col("vec_id") % 25 === 0)
    val ivf = Similarity.trainIvf(emb, "embedding", nCells = 16,
      maxIters = 5, seed = 42L)
    val pqm = Similarity.trainPq(emb, "embedding", m = 8, k = 16,
      maxIters = 8, seed = 42L)
    val got = Similarity.ivfPqSearchTopK(q, emb, "vec_id", "embedding",
      ivf, pqm, k = 5, nprobe = ivf.nCells, candidates = 100,
      broadcastQueries = false)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
    val hits = got.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)) >= 4L).as("recall_ok"))
      .orderBy(col("query_id"))
  }

  /** Product-quantization ANN (ADC shortlist → exact rerank), certified
    * by recall against the exact top-k — the q_occupancy_approx pattern:
    * sketch internals are engine-specific, so the ORACLE-CHECKED output
    * is the query set + a recall-≥-0.8 flag (DuckDB reproduces
    * query_id/TRUE exactly; a PQ regression drops a flag to FALSE and
    * fails the hash compare). Training, encoding, and ranking are all
    * seeded/tie-broken deterministic, so the flag is stable. */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).cache()
    val q = emb.filter(col("vec_id") % 25 === 0)
    val model = Similarity.trainPq(emb, "embedding", m = 8, k = 16,
      maxIters = 8, seed = 42L)
    val pq = Similarity.pqSearchTopK(q, emb, "vec_id", "embedding",
      model, k = 5, candidates = 100)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
    val hits = pq.select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)) >= 4L).as("recall_ok"))
      .orderBy(col("query_id"))
  }

  /** Learned-quantizer IVF (seeded k-means, 16 cells) with the probe set
    * to exhaustive (nprobe = nCells): every corpus vector lives in
    * exactly one cell, so the exhaustive probe returns exactly the
    * brute-force top-k and the query is hash-oracle-checkable end to end
    * (train → assign → multi-probe → rank). The recall-vs-nprobe
    * trade-off at nprobe < nCells is verified in OperatorsSpec. */
  def qAnnIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = Similarity.trainIvf(emb, "embedding", nCells = 16,
      maxIters = 5, seed = 42L)
    Similarity.ivfSearchTopK(emb.filter(col("vec_id") % 25 === 0), emb,
      "vec_id", "embedding", model, 5, nprobe = model.nCells,
      broadcastQueries = false)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Same formulas as TextAnalysis.{tokenCount,distinctTokenCount,
    * stopwordRatio,qualityScore}, but the tokenization runs ONCE via a
    * materialized `toks` column instead of once per output column. */
  def qTextStats(spark: SparkSession, dir: String): DataFrame = {
    val enStop = TextAnalysis.EnStopwords
    val n = size(col("toks")).cast("double")
    val sr = when(n > 0,
      size(filter(col("toks"), t => t.isInCollection(enStop))) / n).otherwise(lit(0.0))
    val diversity = when(n > 0, size(array_distinct(col("toks"))) / n).otherwise(lit(0.0))
    Tables.documents(spark, dir)
      .withColumn("toks", filter(split(col("text"), "\\s+"), t => t =!= ""))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        TextAnalysis.round4Stable(sr).as("stop_ratio"),
        TextAnalysis.round4Stable(
          lit(0.4) * least(lit(1.0), n / 50.0) + lit(0.3) * diversity +
            lit(0.3) * (lit(1.0) - sr)).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizes ONCE into a materialized array, scores each language from
    * it, then derives the argmax from the materialized score columns —
    * the bare langScore/langId forms would re-run the \s+ split ~9× per
    * row (CollapseProject keeps multiply-referenced aliases
    * materialized, so `toks` and the four counts each compute once). */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select((col("doc_id") +: TextAnalysis.LangMarkers.map { case (l, m) =>
        TextAnalysis.langScoreFromTokens(col("toks"), m).as(s"n_$l")
      }): _*)
    scored
      .withColumn("lang_pred", TextAnalysis.langIdFromCounts(
        TextAnalysis.LangMarkers.map { case (l, _) => (l, col(s"n_$l")) }))
      .orderBy(col("doc_id"))
  }

  /** PII detection + redaction over the corpus. The synthetic documents
    * contain no PII, so the query plants deterministic emails/phones/SSNs
    * derived from doc_id (mirrored verbatim in the oracle) and then
    * detects and redacts them — exercising the real operator end to end. */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val phone = concat(
      lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((id * 7) % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((id * 13) % 10000).cast("string"), 4, "0"))
    val ssn = concat(
      lpad(((id * 3) % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((id * 11) % 100).cast("string"), 2, "0"), lit("-"),
      lpad(((id * 17) % 10000).cast("string"), 4, "0"))
    val t = concat(col("text"),
      lit(" contact user"), id.cast("string"), lit("@example.com"),
      when(id % 3 === 0, concat(lit(" call "), phone)).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" id "), ssn)).otherwise(lit("")))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.piiCount(t, TextAnalysis.EmailPattern).as("n_email"),
      TextAnalysis.piiCount(t, TextAnalysis.PhonePattern).as("n_phone"),
      TextAnalysis.piiCount(t, TextAnalysis.SsnPattern).as("n_ssn"),
      TextAnalysis.redactPii(t).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic hash-based train/val/test assignment — membership is
    * a pure function of doc_id (partitioning-independent, append-stable),
    * unlike df.sample(). */
  def qHashSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.splitByHash(
      Tables.documents(spark, dir).select("doc_id"), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy(col("doc_id"))

  /** BM25 probe terms: mid-frequency corpus tokens so idf actually
    * varies across the query. */
  val Bm25Terms = Seq("vector", "stream", "hash")

  def qBm25(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.bm25TopK(Tables.documents(spark, dir),
      "doc_id", "text", Bm25Terms, k = 20)

  /** Length-bucketed inference batching: batch size 32. */
  val LbBatch = 32

  def qLengthBatches(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
    graft.operators.Packing.batchPaddingStats(
      graft.operators.Packing.lengthBucketedBatches(d, "doc_id", "n_tok",
        LbBatch), "n_tok")
      .orderBy(col("batch_id"))
  }

  /** Atomic greedy packing: 1200-char context windows, 8 parallel
    * packing streams, first-fit-decreasing order. The oracle replays
    * the EXACT sequential fold as a recursive CTE stepping rank by
    * rank per stream — greedy packing has no closed form, so the
    * oracle is the fold itself. */
  val PackMaxLen = 1200L
  val PackStreams = 8

  def qPackAtomic(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packAtomic(
      Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars", PackMaxLen, PackStreams)
      .select(col("doc_id"), col("stream"), col("rank"),
        col("bin"), col("offset"))
      .orderBy(col("stream"), col("rank"))

  /** Schema drift between two table states: text column removed,
    * source added, n_chars type-widened, lang partially nulled —
    * all four change classes in one gate, with exact NULL ratios. */
  def qSchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val prev = d.select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val cur = d.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, lit(null).cast("string"))
        .otherwise(col("lang")).as("lang"),
      col("n_chars").cast("double").as("n_chars"),
      col("source"))
    graft.operators.Drift.schemaDrift(prev, cur)
  }

  /** Collocation parameters: pairs seen ≥ 5 times, top 25 by PMI. */
  val CollocMinCount = 5L
  val CollocK = 25

  def qCollocations(spark: SparkSession, dir: String): DataFrame =
    CorpusQuality.collocations(Tables.documents(spark, dir),
      "doc_id", "text", CollocMinCount, CollocK)

  def qCharEntropy(spark: SparkSession, dir: String): DataFrame =
    sortedOnce(
      CorpusQuality.charEntropy(Tables.documents(spark, dir), "doc_id", "text"),
      col("doc_id"))

  /** Cross-corpus perplexity scoring (add-0.5 smoothing): train the
    * bigram model on the ~99% reference slice, score the WHOLE corpus
    * against it — the held-out 1% contains bigrams the reference
    * never saw, exercising the smoothed unseen floor that the
    * unsmoothed self-scoring diagnostic (q_lm_score) cannot handle. */
  def qPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    sortedOnce(
      CorpusQuality.bigramNll(
        d.filter(col("doc_id") % BenchMod =!= 0), d, "doc_id", "text"),
      col("doc_id"))
  }


  /** Count-Min parameters: width small enough that real collisions
    * exist at gate scale (the oracle reproduces them exactly — same
    * md5 hash, same slots), depth 3, one present-nowhere probe. */
  val CmWidth = 256
  val CmDepth = 3
  val CmProbes: Seq[String] =
    Seq("vector", "stream", "hash", "the", "zzzz-absent")

  /** Count-Min point-frequency estimates through the epoch
    * persistence path: the corpus sketched in two independent halves,
    * committed as two epochs, folded bucket-wise, then probed — the
    * single-pass oracle pins merge == one-shot AND every estimate's
    * exact value (collisions included, since the hash is the repo's
    * md5-derived hash32 the oracle replicates). */
  def qCountMin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val root = graft.util.Scratch.dir("count_min") + "/cm"
    val d = Tables.documents(spark, dir)
    def toks(p: org.apache.spark.sql.Column) = d.filter(p)
      .select(explode(split(col("text"), " ")).as("tok"))
    val v0 = graft.sinks.VersionedTable.write(
      CountMin.sketch(toks(col("doc_id") % 2 === 0), "tok", CmWidth, CmDepth),
      root)
    val v1 = graft.sinks.VersionedTable.write(
      CountMin.sketch(toks(col("doc_id") % 2 =!= 0), "tok", CmWidth, CmDepth),
      root)
    graft.sinks.VersionedTable.vacuum(spark, root, keep = 2)
    val sk = CountMin.mergeSketches(Seq(
      graft.sinks.VersionedTable.readVersion(spark, root, v0),
      graft.sinks.VersionedTable.readVersion(spark, root, v1)))
    val probes = spark.createDataFrame(CmProbes.map(Tuple1(_))).toDF("item")
    val est = CountMin.estimates(sk, probes, "item", CmWidth, CmDepth)
    val tc = toks(lit(true)).groupBy(col("tok").as("item"))
      .agg(count(lit(1)).as("_tc"))
    est.join(tc, Seq("item"), "left")
      .select(col("item"), col("est"),
        coalesce(col("_tc"), lit(0L)).as("true_cnt"))
      .orderBy(col("item"))
  }

  /** Conjunctive (AND) BM25: only documents containing EVERY query
    * term rank — the boolean-retrieval semantics layered on the same
    * scoring tail (idf still derives from the full per-term match
    * sets, so the restriction cannot deflate it). */
  def qBm25Conjunctive(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.bm25TopK(Tables.documents(spark, dir),
      "doc_id", "text", Bm25Terms, k = 20, requireAllTerms = true)

  /** BM25 through the PERSISTED inverted index
    * ([[graft.operators.Ranking.buildInvertedIndex]]): build creates
    * token-clustered postings + doc-length manifest tables, then the
    * query runs index-only — no tokenize, no text scan, term probe
    * pushed into the postings files. Shares q_bm25's oracle verbatim:
    * same scoring tail, same op order, so the two paths must
    * hash-match. The index lives in a wiped scratch dir, so repeated
    * gate runs rebuild instead of accumulating. */
  def qBm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("bm25_index")
    graft.operators.Ranking.buildInvertedIndex(
      Tables.documents(spark, dir), "doc_id", "text", root)
    graft.operators.Ranking.bm25TopKIndexed(spark, root, Bm25Terms, k = 20)
  }

  /** Per-modality keep fractions for the stratified-sampling query:
    * rebalance an over-represented stratum down while keeping a rare
    * one whole — the canonical data-mixture op. */
  val StratifiedFractions = Map("image" -> 0.5, "audio" -> 0.1, "video" -> 1.0)

  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).withColumn("modality",
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")))
    graft.operators.Sampling.stratifiedSampleByHash(d, "doc_id", "modality",
      StratifiedFractions)
      .select(col("doc_id"), col("modality"))
      .orderBy(col("doc_id"))
  }

  /** Chunking window parameters: 32-token chunks, 8-token overlap
    * (stride 24) — sized so the corpus's ~60-180-token documents emit
    * several chunks each, exercising both full and short-tail windows. */
  val ChunkSize = 32
  val ChunkOverlap = 8

  def qChunk(spark: SparkSession, dir: String): DataFrame =
    Chunking.chunkByTokens(Tables.documents(spark, dir), "doc_id", "text",
      ChunkSize, ChunkOverlap)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Packing parameters: 512-token context windows, 8 shards. */
  val PackCapacity = 512
  val PackShards = 8

  /** Sequence packing over the chunked corpus — chunk rows annotated
    * with their shard, running token offset, context-window id and
    * in-window offset (concat-then-slice semantics, packed per shard in
    * parallel). */
  def qPack(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packChunks(
      Chunking.chunkByTokens(Tables.documents(spark, dir), "doc_id", "text",
        ChunkSize, ChunkOverlap).drop("chunk_text"),
      PackCapacity, PackShards)
      .orderBy(col("doc_id"), col("chunk_idx"))

  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    sortedOnce(
      CorpusQuality.repetitionStats(Tables.documents(spark, dir),
        "doc_id", "text"),
      col("doc_id"))

  /** Benchmark membership for the contamination query: every 97th doc
    * plays the held-out benchmark; the rest are the training corpus. */
  val BenchMod = 97

  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    sortedOnce(
      CorpusQuality.contamination(
        d.filter(col("doc_id") % BenchMod =!= 0),
        d.filter(col("doc_id") % BenchMod === 0),
        "doc_id", "text"),
      col("doc_id"))
  }

  def qLmScore(spark: SparkSession, dir: String): DataFrame =
    // NOT sortedOnce: the scorer's tail is aggregate-shaped (its sort
    // samples materialized shuffle files), so the cache's write pass
    // costs more than the resample it saves — A/B'd both ways at sf0.1
    CorpusQuality.bigramLmScores(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** The composed curation pipeline: every per-document quality signal
    * plus the keep/drop decision, over the same train/bench split as
    * q_contamination. The oracle recomputes every signal and the
    * decision rule in one SQL statement. */
  def qCuration(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    sortedOnce(
      CorpusQuality.curationReport(
        d.filter(col("doc_id") % BenchMod =!= 0),
        d.filter(col("doc_id") % BenchMod === 0),
        "doc_id", "text"),
      col("doc_id"))
  }

  /** Winnowing parameters: 4-token grams, window 4 — any shared
    * verbatim run of ≥ 7 tokens is guaranteed to produce a shared
    * fingerprint; ≥ 2 shared fingerprints suppresses single-window
    * coincidences (exactly the 25 planted near-dup pairs at sf0.01). */
  val WinnowK = 4
  val WinnowW = 4
  val WinnowMinShared = 2

  def qWinnowOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Winnowing.overlapPairs(Tables.documents(spark, dir),
      "doc_id", "text", WinnowK, WinnowW, WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Document frequency cap for the gated capped winnowing run — the
    * boilerplate-guard path production runs on template-heavy corpora.
    * 4 sits BELOW this corpus's max fingerprint df (6), so the cap
    * provably bites in the gate instead of being a no-op. */
  val WinnowMaxDf = 4L

  def qWinnowCapped(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Winnowing.overlapPairs(Tables.documents(spark, dir),
      "doc_id", "text", WinnowK, WinnowW, WinnowMinShared,
      maxDf = Some(WinnowMaxDf))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Document-frequency cap for the gated line-dedup run: the planted
    * boilerplate lines have df ≈ N, N/3, N/5 (N = corpus size, ≫ 10),
    * so they drop; body lines recur only within exact-duplicate groups
    * (df ≤ 3) and survive. */
  val LineDedupMaxDf = 10L

  /** CCNet-style line-level boilerplate removal, gated with PLANTED
    * lines (the corpus text has no newlines — same mirrored-in-the-
    * oracle convention as q_pii_redact/q_url_extract): every doc gets a
    * shared header line, every 3rd a promo line, every 5th a footer;
    * the doc's own text is its body line. */
  /** Verbatim 8-gram coverage over the whole corpus
    * (CorpusQuality.verbatimCoverage): exact duplicated-substring
    * fraction per doc, integer arithmetic end to end. */
  def qVerbatimCov(spark: SparkSession, dir: String): DataFrame =
    // NOT sortedOnce: same aggregate-shaped tail as q_lm_score — the
    // cache read back slower than the (shuffle-file) resample
    CorpusQuality.verbatimCoverage(Tables.documents(spark, dir),
      "doc_id", "text", k = 8)
      .orderBy(col("doc_id"))

  def qLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val t = concat(
      lit("SHARED HEADER: all rights reserved\n"),
      when(id % 3 === 0, lit("PROMO: subscribe now\n")).otherwise(lit("")),
      col("text"),
      when(id % 5 === 0, lit("\nFOOTER: contact us")).otherwise(lit("")))
    CorpusQuality.dropBoilerplateLines(
      Tables.documents(spark, dir).withColumn("text", t),
      "doc_id", "text", LineDedupMaxDf)
      .orderBy(col("doc_id"))
  }

  /** Int8 quantization contract over the embeddings table: per vector,
    * the symmetric max-abs scale and the l2 reconstruction error of the
    * dequantized int8 vector — the error bound a quantized ANN pipeline
    * rests on, replicated arithmetically in the oracle (widening float→
    * double is exact, both engines fold the error sum left-to-right). */
  def qEmbeddingQuant(spark: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantizeInt8(Tables.embeddings(spark, dir), "embedding")
    val deq = Similarity.dequantizeInt8(col("q"), col("q_scale"))
    q.select(col("vec_id"),
      round(col("q_scale"), 6).as("scale_r"),
      round(sqrt(aggregate(
        zip_with(col("embedding"), deq,
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, e) => acc + e)), 4).as("l2_err"))
      .orderBy(col("vec_id"))
  }

  /** Target domain mixture over the corpus's `source` column: emphasize
    * src0, starve src1, keep the rest uniform. The corpus's per-source
    * counts are near-uniform, so the max-weight domain (src0) binds —
    * kept whole at rate 1.0 — while every other domain downsamples to
    * its proportional rate s·w_g/n_g (src1 hardest). The non-uniform-
    * count case, where the binding domain is NOT the max-weight one, is
    * exercised by the OperatorsSpec fixture (300/100/600 rows at
    * 50/25/25% targets → the mid-size domain binds). */
  val DomainMixWeights: Map[String, Double] =
    Map("src0" -> 0.15, "src1" -> 0.05) ++
      (2 to 9).map(i => s"src$i" -> 0.1).toMap

  def qDomainMix(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.rebalanceToMix(
      Tables.documents(spark, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", DomainMixWeights)
      .orderBy(col("doc_id"))

  /** Vocabulary size for the OOV query — small enough that the corpus
    * has a real OOV tail, large enough to cover the hot tokens. */
  val OovVocabSize = 50

  def qOovRate(spark: SparkSession, dir: String): DataFrame =
    CorpusQuality.oovStats(Tables.documents(spark, dir), "doc_id", "text",
      OovVocabSize)
      .orderBy(col("doc_id"))

  /** Centroid-cosine outlier threshold: the label clusters are loose
    * (median cos-to-centroid ≈ 0.1), so the flag marks the far tail. */
  val CentroidOutlierThreshold = -0.15

  def qEmbeddingOutliers(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroidOutliers(Tables.embeddings(spark, dir),
      "vec_id", "embedding", "label", CentroidOutlierThreshold)
      .orderBy(col("vec_id"))

  /** Exactly-k-per-language eval draw. */
  val GroupSampleK = 20

  def qGroupSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.exactKPerStratum(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
      "doc_id", "lang", GroupSampleK)
      .orderBy(col("doc_id"))

  /** The identical draw through the TopKBy partial aggregate (no
    * per-stratum window sort) — same oracle, hash-proving the two
    * plans pick the same rows. */
  def qGroupSampleAgg(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.exactKPerStratumAgg(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
      "doc_id", "lang", GroupSampleK)
      .orderBy(col("doc_id"))

  /** Drop the bottom quartile by heuristic quality — the
    * quantile-relative corpus filter. */
  val QualityFilterQuantile = 0.25

  def qQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    // cached like q_corpus_prep's kept: the quantile aggregate, the
    // survivor filter, and the sort's sampling pass all read it
    val scored = Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        TextAnalysis.qualityScoreFromTokens(col("toks")).as("quality"))
      .cache()
    CorpusQuality.filterByScoreQuantile(scored, "quality", QualityFilterQuantile)
      .orderBy(col("doc_id"))
  }

  /** URL extraction over planted deterministic URLs (the corpus text
    * has none — same mirrored-in-the-oracle convention as q_pii_redact):
    * every even doc gets one URL, every 6th a second, exercising
    * zero/one/many per document. */
  def qUrlExtract(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val t = concat(col("text"),
      when(id % 2 === 0, concat(lit(" see https://example"),
        (id % 7).cast("string"), lit(".com/p/"), id.cast("string"))).otherwise(lit("")),
      when(id % 6 === 0, concat(lit(" and http://mirror"),
        (id % 3).cast("string"), lit(".org"))).otherwise(lit("")))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(TextAnalysis.extractUrls(t)).as("n_urls"),
      // joined to a scalar: the driver's correctness gate compares via a
      // pandas sort that cannot hash ARRAY cells — gated queries must
      // emit scalar columns only (semantics of the array form are
      // spec-covered in OperatorsSpec)
      array_join(TextAnalysis.extractHosts(t), ",").as("hosts"))
      .orderBy(col("doc_id"))
  }

  def qTextNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.normalizeText(concat(lit("  A-B%%c  "), col("text"),
        lit("!! d/e "))).as("norm"))
      .orderBy(col("doc_id"))

  /** Snapshot membership/mutation rules for the diff query: docs with
    * id % 11 == 3 exist only in the current snapshot (added), % 13 == 5
    * only in the previous (removed), % 7 == 0 have different text
    * (changed); everything else is unchanged. */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val prev = d.filter(col("doc_id") % 11 =!= 3)
    val cur = d.filter(col("doc_id") % 13 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    graft.operators.SnapshotDiff.diff(prev, cur, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** The composed corpus-prep pipeline as ONE declarative plan —
    * normalize → exact-dedup on the normalized fingerprint (keep min
    * doc_id) → quantile-relative quality filter over the survivors.
    * Each stage is an already-gated operator; this gate proves they
    * COMPOSE: one Catalyst plan, no materialization barriers, the
    * oracle recomputing all three stages in one SQL statement. */
  def qCorpusPrep(spark: SparkSession, dir: String): DataFrame = {
    // cached: the dedup-keep derivation and the survivor join both read
    // the normalized scan (no cross-branch CSE — the regex normalize
    // would otherwise run twice over the corpus)
    val normed = Tables.documents(spark, dir)
      .withColumn("norm", TextAnalysis.normalizeText(col("text")))
      .cache()
    // exact dedup on the normalized text: keep the min doc_id per
    // fingerprint (one hash shuffle — the q_dedup_exact machinery)
    val keep = normed
      .select(col("doc_id"), TextAnalysis.fingerprint(col("norm")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // (doc_id, quality) is consumed by BOTH the quantile aggregate and
    // the survivor filter, and the terminal sort's range sampling makes
    // a third pass — cached, the tokenize+score projection runs once
    // over ~|corpus| rows instead of three times
    val kept = normed.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        TextAnalysis.qualityScoreFromTokens(
          TextAnalysis.tokens(col("norm"))).as("quality"))
      .cache()
    CorpusQuality.filterByScoreQuantile(kept, "quality", QualityFilterQuantile)
      .orderBy(col("doc_id"))
  }

  /** [[qCorpusPrep]] survivors THROUGH the partitioned-parquet table
    * layout and back — the shape a real pipeline runs (prep once, write
    * the curated corpus, downstream jobs read the table): survivors are
    * written `PARTITIONED BY (part = doc_id % 4)` with doc_id-clustered
    * row groups via [[graft.sinks.ParquetSink.writeTable]], then read
    * back from disk. Gated against the SAME oracle as q_corpus_prep, so
    * a green row proves the sink layout is lossless for the pipeline's
    * own output (including double-precision quality scores). The
    * partition-PRUNING property of the written layout is asserted in
    * SinksSpec (PartitionFilters, not a post-scan row filter). */
  def corpusPrepRoundTrip(spark: SparkSession, dir: String,
                          outPath: String): DataFrame = {
    val prep = qCorpusPrep(spark, dir)
      .withColumn("part", pmod(col("doc_id"), lit(4)).cast("int"))
    graft.sinks.ParquetSink.writeTable(prep, outPath,
      partitionCols = Seq("part"), sortCols = Seq("doc_id"))
    graft.sinks.ParquetSink.read(spark, outPath)
      .select(col("doc_id"), col("quality"))
      .orderBy(col("doc_id"))
  }

  def qCorpusPrepRt(spark: SparkSession, dir: String): DataFrame =
    corpusPrepRoundTrip(spark, dir, graft.util.Scratch.dir("corpus_prep"))

  /** Row-level MERGE + DELETE through [[graft.sinks.ManifestTable]]
    * (the FILE-GRANULAR copy-on-write path: epochs are manifests,
    * untouched files carry by reference, and the merge rewrites only
    * the files whose key envelopes intersect the batch), end-to-end
    * on disk: seed a key-clustered table with most of the corpus,
    * upsert a correction batch (text prefixed — ids ≡ 2 mod 5; the
    * ids also ≡ 7 mod 10 are absent from the seed, so the batch
    * exercises BOTH merge arms: matched-update and not-matched-
    * insert), then DELETE a key slice (modular predicate — no range
    * proof, so it honestly rewrites all files). The final version is
    * read back from disk — the gate proves the manifest-path fold,
    * not a DataFrame simulation of it. Oracle: the equivalent
    * anti-join ∪ updates, minus deletes. */
  def qMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("mt_merge")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 10 =!= 7)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    graft.sinks.ManifestTable.merge(
      d.filter(col("doc_id") % 5 === 2)
        .withColumn("text", concat(lit("UPDATED: "), col("text"))),
      root, Seq("doc_id"))
    graft.sinks.ManifestTable.deleteWhere(spark, root,
      col("doc_id") % 10 === 4)
    graft.sinks.ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"),
        substring(col("text"), 1, 12).as("head"))
      .orderBy(col("doc_id"))
  }

  /** CDC fold through the FILE-GRANULAR manifest path
    * ([[graft.sinks.ManifestTable.applyCdc]] — only files whose key
    * envelopes intersect the batch are rewritten; the insert keys at
    * doc_id+1e6 fall outside every envelope, so they land as pure new
    * files): a two-batch change stream — updates, inserts of
    * brand-new keys, deletes, a same-batch update-then-delete (nets
    * to absent) and delete-then-update (resurrects) — folded batch by
    * batch; the oracle replays the SAME stream as one
    * window-collapsed MERGE, pinning the sequential-fold ==
    * one-shot-union equivalence on real data. Seqs are derived from
    * doc_id so batch 2 always outranks batch 1 on shared keys — the
    * in-order-delivery contract a CDC consumer has anyway. */
  def qCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("mt_cdc")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 10 =!= 9)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    def ch(rows: DataFrame, op: String, seqOff: Int, prefix: String) =
      rows.select(col("doc_id"), col("lang"),
        (if (prefix.isEmpty) col("text")
         else concat(lit(prefix), col("text"))).as("text"),
        lit(op).as("op"), (col("doc_id") * 10 + seqOff).as("seq"))
    val inserts = d.filter(col("doc_id") % 17 === 5).select(
      (col("doc_id") + 1000000L).as("doc_id"), lit("xx").as("lang"),
      concat(lit("NEW: "), col("text")).as("text"),
      lit("I").as("op"), (col("doc_id") * 10 + 1).as("seq"))
    val batch1 = ch(d.filter(col("doc_id") % 5 === 1), "U", 1, "V1: ")
      .unionByName(inserts)
    val batch2 = ch(d.filter(col("doc_id") % 15 === 1), "U", 2, "V2: ")
      .unionByName(ch(d.filter(col("doc_id") % 10 === 6), "D", 3, ""))
      .unionByName(ch(d.filter(col("doc_id") % 30 === 26), "U", 4, "BACK: "))
      .unionByName(d.filter(col("doc_id") % 34 === 5).select(
        (col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text"),
        lit("D").as("op"), (col("doc_id") * 10 + 5).as("seq")))
    graft.sinks.ManifestTable.applyCdc(batch1, root, Seq("doc_id"))
    graft.sinks.ManifestTable.applyCdc(batch2, root, Seq("doc_id"))
    graft.sinks.ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"),
        substring(col("text"), 1, 12).as("head"))
      .orderBy(col("doc_id"))
  }

  /** [[qMergeUpsert]]'s exact algebra on the MERGE-ON-READ path
    * ([[graft.sinks.ManifestTable.mergeMor]] + `deleteWhereMor`):
    * matched keys vector their old positions, the batch appends, the
    * delete commits bits — zero data files rewritten end to end, and
    * the SAME oracle must hash-match. The strongest parity evidence
    * the two grains can give each other. */
  def qMergeDv(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("mt_merge_dv")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 10 =!= 7)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    graft.sinks.ManifestTable.mergeMor(
      d.filter(col("doc_id") % 5 === 2)
        .withColumn("text", concat(lit("UPDATED: "), col("text"))),
      root, Seq("doc_id"))
    graft.sinks.ManifestTable.deleteWhereMor(spark, root,
      col("doc_id") % 10 === 4)
    graft.sinks.ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"),
        substring(col("text"), 1, 12).as("head"))
      .orderBy(col("doc_id"))
  }

  /** [[qMergeDv]]'s algebra at the EQUALITY-DELETE grain
    * ([[graft.sinks.ManifestTable.mergeEq]] — the streaming keyed
    * ingest shape: the batch's keys commit as an equality delete,
    * ZERO target reads at write time), exercising all three of its
    * read states in one gate: the first eq merge's pending deletes
    * FOLD into the deleteWhereMor commit (any row-level op
    * materializes them), and the second eq merge is still PENDING at
    * the final read — served through the cached read-side resolution
    * into deletion vectors. The oracle reconstructs the same fold in
    * plain SQL. */
  def qMergeEq(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("mt_merge_eq")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 10 =!= 7)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    graft.sinks.ManifestTable.mergeEq(
      d.filter(col("doc_id") % 5 === 2)
        .withColumn("text", concat(lit("UPDATED: "), col("text"))),
      root, Seq("doc_id"))
    graft.sinks.ManifestTable.deleteWhereMor(spark, root,
      col("doc_id") % 10 === 4)
    graft.sinks.ManifestTable.mergeEq(
      d.filter(col("doc_id") % 7 === 3)
        .withColumn("text", concat(lit("EQ2: "), col("text"))),
      root, Seq("doc_id"))
    graft.sinks.ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"),
        substring(col("text"), 1, 12).as("head"))
      .orderBy(col("doc_id"))
  }

  /** [[qCdcApply]]'s exact algebra on the MERGE-ON-READ path
    * ([[graft.sinks.ManifestTable.applyCdcMor]]): both CDC batches
    * fold as vectors + appends, nothing rewritten, same oracle. */
  def qCdcDv(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("mt_cdc_dv")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 10 =!= 9)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    def ch(rows: DataFrame, op: String, seqOff: Int, prefix: String) =
      rows.select(col("doc_id"), col("lang"),
        (if (prefix.isEmpty) col("text")
         else concat(lit(prefix), col("text"))).as("text"),
        lit(op).as("op"), (col("doc_id") * 10 + seqOff).as("seq"))
    val inserts = d.filter(col("doc_id") % 17 === 5).select(
      (col("doc_id") + 1000000L).as("doc_id"), lit("xx").as("lang"),
      concat(lit("NEW: "), col("text")).as("text"),
      lit("I").as("op"), (col("doc_id") * 10 + 1).as("seq"))
    val batch1 = ch(d.filter(col("doc_id") % 5 === 1), "U", 1, "V1: ")
      .unionByName(inserts)
    val batch2 = ch(d.filter(col("doc_id") % 15 === 1), "U", 2, "V2: ")
      .unionByName(ch(d.filter(col("doc_id") % 10 === 6), "D", 3, ""))
      .unionByName(ch(d.filter(col("doc_id") % 30 === 26), "U", 4, "BACK: "))
      .unionByName(d.filter(col("doc_id") % 34 === 5).select(
        (col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text"),
        lit("D").as("op"), (col("doc_id") * 10 + 5).as("seq")))
    graft.sinks.ManifestTable.applyCdcMor(batch1, root, Seq("doc_id"))
    graft.sinks.ManifestTable.applyCdcMor(batch2, root, Seq("doc_id"))
    graft.sinks.ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"),
        substring(col("text"), 1, 12).as("head"))
      .orderBy(col("doc_id"))
  }

  /** The CDC fold at the EQUALITY-DELETE grain ([[graft.sinks
    * .ManifestTable.applyCdcEq]]) — [[qCdcApply]]'s exact scenario,
    * byte-identical oracle, THIRD grain: each batch commits its
    * winners' keys as a delete file plus the non-D winners as landed
    * rows, with zero target reads; the final read serves BOTH
    * batches' deletes still PENDING (per-task key probes above the
    * columnar scan — nothing compacted, nothing materialized),
    * stacked correctly across the two batches' seq ordering.
    * Reference analog: the reference recomputes each report from
    * re-pulled state (full refresh); the CDC grains replace that with
    * incremental folds (`src/transform/buildReports.ts:31-58`). */
  def qCdcEq(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("mt_cdc_eq")
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    graft.sinks.ManifestTable.create(
      d.filter(col("doc_id") % 10 =!= 9)
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      root, Seq("doc_id"))
    def ch(rows: DataFrame, op: String, seqOff: Int, prefix: String) =
      rows.select(col("doc_id"), col("lang"),
        (if (prefix.isEmpty) col("text")
         else concat(lit(prefix), col("text"))).as("text"),
        lit(op).as("op"), (col("doc_id") * 10 + seqOff).as("seq"))
    val inserts = d.filter(col("doc_id") % 17 === 5).select(
      (col("doc_id") + 1000000L).as("doc_id"), lit("xx").as("lang"),
      concat(lit("NEW: "), col("text")).as("text"),
      lit("I").as("op"), (col("doc_id") * 10 + 1).as("seq"))
    val batch1 = ch(d.filter(col("doc_id") % 5 === 1), "U", 1, "V1: ")
      .unionByName(inserts)
    val batch2 = ch(d.filter(col("doc_id") % 15 === 1), "U", 2, "V2: ")
      .unionByName(ch(d.filter(col("doc_id") % 10 === 6), "D", 3, ""))
      .unionByName(ch(d.filter(col("doc_id") % 30 === 26), "U", 4, "BACK: "))
      .unionByName(d.filter(col("doc_id") % 34 === 5).select(
        (col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text"),
        lit("D").as("op"), (col("doc_id") * 10 + 5).as("seq")))
    graft.sinks.ManifestTable.applyCdcEq(batch1, root, Seq("doc_id"))
    graft.sinks.ManifestTable.applyCdcEq(batch2, root, Seq("doc_id"))
    graft.sinks.ManifestTable.read(spark, root)
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("text_len"),
        substring(col("text"), 1, 12).as("head"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic training-shard assignment + shuffled order
    * ([[graft.operators.Sampling.shardAssignments]]): every doc lands
    * in one of 16 shards with a seed-salted md5 hash, and `pos` is its
    * rank in the shard's deterministic pseudo-random order — the
    * columns [[graft.operators.Sampling.writeTrainingShards]] sorts
    * files by. `pos` here is the gate's verification projection (a
    * per-shard window, bounded at gate scale); the production writer
    * never materializes it — sorted files are the contract. */
  val ShardCount = 16
  val ShardSeed = "shard0"

  def qShardAssign(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("shard_h"), col("doc_id"))
    graft.operators.Sampling.shardAssignments(
      Tables.documents(spark, dir).select(col("doc_id")),
      "doc_id", ShardCount, ShardSeed)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Heavy-hitter sketch bound to the corpus unigrams, capacity well
    * above the distinct-token count so the space-saving counters are
    * exact and the gate pins err = 0 (the bounded-error sketch mode is
    * spec-tested on skewed synthetic data). */
  val TopkFreqK = 20
  val TopkFreqCapacity = 4096

  def qTopkFreq(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.heavyHitters(
      Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("tok")),
      "tok", TopkFreqK, TopkFreqCapacity)
      .orderBy(col("n").desc, col("item").asc)

  /** Corpus-wide top bigrams (vocabulary building): full multiset
    * count — one explode + hash agg + TakeOrdered, no distinct-per-doc. */
  def qTopNgrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(explode(Dedup.shinglesFromTokens(col("w"))).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("sh").asc)
      .limit(20)

  def qFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .withColumn("n_sharing", count(lit(1)).over(w))
      .orderBy(col("doc_id"))
  }

  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id", "text")
      .drop("payload")
      .orderBy(col("doc_id"))

  /** Frame-sample the video-modality payloads (every 4th 64-byte frame
    * block). The corpus text is ASCII, so the oracle slices the text
    * with the same arithmetic the engine applies to the binary. */
  def qFrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.attachPayload(Tables.documents(spark, dir), "doc_id", "text"),
      everyN = 4)
      .orderBy(col("doc_id"), col("sample_idx"))

  /** RRF fusion constants: candidate depth per retriever, the standard
    * k = 60 damping, fused cut at 20. Probe: BM25 over [[Bm25Terms]]
    * fused with cosine neighbors of vec_id 0's embedding (doc_id and
    * vec_id are the same key space). */
  val RrfK = 60
  val RrfDepth = 50
  val RrfTopK = 20

  /** Hybrid retrieval (operators.Retrieval): lexical BM25 and embedding
    * cosine rank lists fused by reciprocal rank. Both legs reuse the
    * already-gated retrievers (q_bm25 / q_ann_topk plans); the fusion
    * itself touches only 2·depth candidate rows. */
  def qHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = graft.operators.Ranking.bm25TopK(
      Tables.documents(spark, dir), "doc_id", "text", Bm25Terms, k = RrfDepth)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("rank"))
    val emb = Tables.embeddings(spark, dir)
    val sem = Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = RrfDepth)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.Retrieval.rrfFuse(Seq(lex, sem), "doc_id",
      k = RrfK, topK = RrfTopK)
      .orderBy(col("fused_rank"))
  }

  /** HTML boilerplate stripping (TextAnalysis.stripHtml/linkCount):
    * the corpus has no markup, so the query wraps each document in a
    * deterministic page skeleton (nav links, style block, a script
    * whose body contains a bare `<` — mirrored verbatim in the oracle)
    * and then extracts visible text + the link-density signal, the
    * web-corpus extraction step run before any text quality scoring. */
  def qHtmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>t</title><style>p{color:red}</style>" +
        "</head><body><div id=\"nav\"><a href=\"/home\">Home</a> " +
        "<a href=\"/about\">About</a></div><p>"),
      col("text"),
      lit("</p><script type=\"text/javascript\">var x = 1; " +
        "if (x<2) { x = 2; }</script>"),
      when(col("doc_id") % 4 === 0,
        lit("<footer><a href=\"/terms\">Terms</a></footer>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextAnalysis.linkCount(page).cast("int").as("n_links"),
        TextAnalysis.stripHtml(page).as("clean"))
      .withColumn("link_density",
        round(col("n_links") / size(split(col("clean"), " ")), 4))
      .orderBy(col("doc_id"))
  }

  /** Length-weighted deterministic Bernoulli sample
    * (Sampling.sampleByWeight): inclusion probability ∝ n_chars,
    * expected 100 docs — integer-exact Σw so membership is
    * oracle-reproducible. */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.sampleByWeight(
      Tables.documents(spark, dir).select("doc_id", "n_chars"),
      "doc_id", "n_chars", expectedN = 100.0)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Dense global row ids without a single-task window
    * ([[graft.operators.Ids.withSequentialIds]]): range-sort +
    * per-partition offsets, numbered identically to
    * ROW_NUMBER() OVER (ORDER BY doc_id) — which is the oracle. */
  def qSeqIds(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Ids.withSequentialIds(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
      Seq("doc_id"), "seq_id", numPartitions = 8)
      .orderBy(col("doc_id"))

  /** Temperature for the flattened-mixture query: τ = 4 (weights
    * ∝ n^¼ — two IEEE square roots, bit-reproducible in the oracle). */
  val MixTemperature = 4

  def qMixtureTemp(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureMix(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
      "doc_id", "lang", MixTemperature)
      .orderBy(col("doc_id"))

  /** Round-0 BPE pair statistics: the corpus's most frequent adjacent
    * character pairs, word-frequency-weighted — the argmax of the
    * trainer's first round, directly oracle-checkable (the full merge
    * loop is iterative and spec-verified instead). */
  val BpePairsK = 20

  def qBpePairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.pairCounts(graft.operators.Bpe.initialVocab(
      graft.operators.Bpe.wordCounts(Tables.documents(spark, dir), "text")))
      .orderBy(col("cnt").desc, col("lsym").asc, col("rsym").asc)
      .limit(BpePairsK)

  /** INCREMENTALLY-maintained inverted index must score like a fresh
    * build: the initial build sees a corpus with every 11th doc
    * missing and every 7th doc truncated to its first 5 words; one
    * [[graft.operators.Ranking.upsertIndexedDocs]] batch then inserts
    * the missing docs and REPLACES the truncated ones (stale postings
    * for words the truncation dropped must not survive), and an
    * [[graft.operators.Ranking.optimizeIndex]] pass restores the
    * token clustering. Oracle: q_bm25's full-corpus SQL verbatim —
    * the delta path must be row-identical to a from-scratch index. */
  def qBm25Incremental(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.freshDir("bm25_inc_index")
    val d = Tables.documents(spark, dir)
    val stale = d.filter(col("doc_id") % 11 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, substring_index(col("text"), " ", 5))
          .otherwise(col("text")))
    graft.operators.Ranking.buildInvertedIndex(stale, "doc_id", "text", root)
    val batch = d.filter(col("doc_id") % 11 === 0 || col("doc_id") % 7 === 0)
    graft.operators.Ranking.upsertIndexedDocs(batch, "doc_id", "text", root)
    graft.operators.Ranking.optimizeIndex(spark, root)
    graft.operators.Ranking.bm25TopKIndexed(spark, root, Bm25Terms, k = 20)
  }

  /** CHANGE FEED between table epochs ([[graft.sinks.VersionedTable
    * .changesBetween]]): epoch A is a stale state (every 11th doc
    * missing, every 7th doc's n_chars off by one), epoch B the
    * current one (English docs dropped); the feed must emit exactly
    * the I/U/D delta an incremental consumer would apply. Oracle: the
    * same two states reconstructed in SQL and full-outer diffed. */
  def qChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.util.Scratch.dir("change_feed") + "/t"
    val d = Tables.documents(spark, dir).select("doc_id", "lang", "n_chars")
    val a = d.filter(col("doc_id") % 11 =!= 0)
      .withColumn("n_chars", when(col("doc_id") % 7 === 0,
        col("n_chars") + 1).otherwise(col("n_chars")))
    val b = d.filter(col("lang") =!= "en")
    val v0 = graft.sinks.VersionedTable.write(a, root)
    val v1 = graft.sinks.VersionedTable.write(b, root)
    graft.sinks.VersionedTable.vacuum(spark, root, keep = 2)
    graft.sinks.VersionedTable
      .changesBetween(spark, root, v0, v1, Seq("doc_id"))
      .select(col("doc_id"), col("op"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Unicode NFC canonicalization ([[TextAnalysis.normalizeUnicode]]
    * — the custom codegen expression): planted DECOMPOSED combining
    * sequences (e + U+0301, A + U+030A) must normalize to their
    * precomposed forms, shrinking the length; DuckDB's
    * `nfc_normalize` implements the same Unicode spec, so the oracle
    * is exact on both the normalized text and the length delta. */
  def qNfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    // combining marks spelled as \u escapes (e + U+0301, A + U+030A)
    // so editor/source normalization can never silently precompose them
    val decomposed = concat(lit("cafe\u0301 "), col("lang"),
      lit(" e\u0301cole A\u030A"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.normalizeUnicode(decomposed).as("norm"),
      length(decomposed).as("len_raw"),
      length(TextAnalysis.normalizeUnicode(decomposed)).as("len_nfc"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_nfc_normalize"   -> qNfcNormalize _,
    "q_change_feed"     -> qChangeFeed _,
    "q_seq_ids"         -> qSeqIds _,
    "q_mixture_temp"    -> qMixtureTemp _,
    "q_bpe_pairs"       -> qBpePairs _,
    "q_bm25_incremental" -> qBm25Incremental _,
    "q_hybrid_rrf"      -> qHybridRrf _,
    "q_weighted_sample" -> qWeightedSample _,
    "q_html_strip"      -> qHtmlStrip _,
    "q_dedup_exact"     -> qDedupExact _,
    "q_dedup_bloom"     -> qDedupBloom _,
    "q_dedup_jaccard"   -> qDedupJaccard _,
    "q_dedup_jaccard_capped" -> qDedupJaccardCapped _,
    "q_tfidf_sim"       -> qTfidfSim _,
    "q_dedup_minhash"   -> qDedupMinhash _,
    "q_dedup_incremental" -> qDedupIncremental _,
    "q_dedup_incremental_idx" -> qDedupIncrementalIdx _,
    "q_dedup_simhash"   -> qDedupSimhash _,
    "q_dedup_clusters"  -> qDedupClusters _,
    "q_dedup_keep"      -> qDedupKeep _,
    "q_dedup_keep_best" -> qDedupKeepBest _,
    "q_dedup_embedding" -> qDedupEmbedding _,
    "q_dedup_embedding_lsh" -> qDedupEmbeddingLsh _,
    "q_ann_topk"        -> qAnnTopK _,
    "q_ann_ivf"         -> qAnnIvf _,
    "q_ann_pq"          -> qAnnPq _,
    "q_ann_ivfpq"       -> qAnnIvfPq _,
    "q_ann_ivf_kmeans"  -> qAnnIvfKmeans _,
    "q_text_stats"      -> qTextStats _,
    "q_lang_id"         -> qLangId _,
    "q_fingerprint"     -> qFingerprint _,
    "q_pii_redact"      -> qPiiRedact _,
    "q_hash_split"      -> qHashSplit _,
    "q_top_ngrams"      -> qTopNgrams _,
    "q_bm25"            -> qBm25 _,
    "q_bm25_conj"       -> qBm25Conjunctive _,
    "q_count_min"       -> qCountMin _,
    "q_collocations"    -> qCollocations _,
    "q_char_entropy"    -> qCharEntropy _,
    "q_length_batches"  -> qLengthBatches _,
    "q_pack_atomic"     -> qPackAtomic _,
    "q_perplexity"      -> qPerplexity _,
    "q_schema_drift"    -> qSchemaDrift _,
    "q_bm25_indexed"    -> qBm25Indexed _,
    "q_stratified_sample" -> qStratifiedSample _,
    "q_multimodal_meta" -> qMultimodalMeta _,
    "q_frame_sample"    -> qFrameSample _,
    "q_chunk"           -> qChunk _,
    "q_pack"            -> qPack _,
    "q_repetition"      -> qRepetition _,
    "q_winnow_overlap"  -> qWinnowOverlap _,
    "q_winnow_capped"   -> qWinnowCapped _,
    "q_domain_mix"      -> qDomainMix _,
    "q_oov_rate"        -> qOovRate _,
    "q_embedding_outliers" -> qEmbeddingOutliers _,
    "q_group_sample"    -> qGroupSample _,
    "q_group_sample_agg" -> qGroupSampleAgg _,
    "q_quality_filter"  -> qQualityFilter _,
    "q_topk_freq"       -> qTopkFreq _,
    "q_url_extract"     -> qUrlExtract _,
    "q_text_normalize"  -> qTextNormalize _,
    "q_corpus_prep"     -> qCorpusPrep _,
    "q_corpus_prep_rt"  -> qCorpusPrepRt _,
    "q_merge_upsert"    -> qMergeUpsert _,
    "q_cdc_apply"       -> qCdcApply _,
    "q_merge_dv"        -> qMergeDv _,
    "q_merge_eq"        -> qMergeEq _,
    "q_cdc_dv"          -> qCdcDv _,
    "q_cdc_eq"          -> qCdcEq _,
    "q_shard_assign"    -> qShardAssign _,
    "q_snapshot_diff"   -> qSnapshotDiff _,
    "q_contamination"   -> qContamination _,
    "q_line_dedup"      -> qLineDedup _,
    "q_verbatim_cov"    -> qVerbatimCov _,
    "q_embedding_quant" -> qEmbeddingQuant _,
    "q_ann_topk_quant"  -> qAnnTopKQuant _,
    "q_lm_score"        -> qLmScore _,
    "q_curation"        -> qCuration _)

  // ---- oracle SQL generation helpers -------------------------------

  /** DuckDB hex→int64 over `width` hex digits of expression `hx`
    * starting at 1-based position `from` (no base-conv builtin). */
  private def duckHex(hx: String, from: Int, width: Int): String = {
    val terms = (0 until width).map { i =>
      val w = math.pow(16, width - 1 - i).toLong
      s"(strpos('0123456789abcdef', substr($hx, ${from + i}, 1)) - 1) * $w"
    }
    terms.mkString("(", " + ", ")")
  }

  /** hash32(doc_id) rendered in DuckDB SQL (Sampling.hashUnit numerator). */
  private lazy val HashSplitHex = duckHex("md5(CAST(doc_id AS VARCHAR))", 1, 8)

  /** Shared shingle CTE prefix (word bigrams, distinct per doc). */
  private val shingleCtes =
    """docs2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |shl AS (SELECT doc_id,
      |        unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
      |        FROM docs2),
      |sh AS (SELECT DISTINCT doc_id, sh FROM shl),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)""".stripMargin

  private val jaccardSelect =
    s"""SELECT doc_a, doc_b,
       |  FLOOR((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |           JOIN sizes sb ON sb.doc_id = doc_b""".stripMargin

  /** VALUES rows for the 16 minhash universal-hash functions. */
  private val minhashHf = Dedup.MinhashA.zip(Dedup.MinhashB).zipWithIndex
    .map { case ((a, b), i) => s"(${i + 1}, $a, $b)" }.mkString(", ")

  private val duckDot =
    "list_reduce(list_transform(list_zip(%s, %s), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)"

  private def dot(a: String, b: String) = duckDot.format(a, b)

  /** 32 signed-sum bit columns + value assembly for SimHash. */
  private val simhashBitSums = (0 until 32).map { j =>
    s"SUM(CASE WHEN (h >> ${31 - j}) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
  }.mkString(",\n    ")
  private val simhashAssemble = (0 until 32).map { j =>
    s"CASE WHEN s$j >= 0 THEN CAST(${1L << (31 - j)} AS BIGINT) ELSE 0 END"
  }.mkString(" + ")

  /** Shared SimHash signature CTE chain (tokens → md5 hash → 32 signed
    * sums → assembled signature) — used by the pair query and the
    * clusters query. */
  private lazy val simhashCtes =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |xv AS (SELECT doc_id, ${duckHex("md5(tok)", 1, 8)} AS h FROM toks),
       |bits AS (SELECT doc_id,
       |    $simhashBitSums
       |  FROM xv GROUP BY 1),
       |sim AS (SELECT doc_id, ($simhashAssemble) AS simhash FROM bits)""".stripMargin

  /** The incremental MinHash dedup in one SQL statement — shared by
    * q_dedup_incremental (corpus rescan) and q_dedup_incremental_idx
    * (corpus via the persisted index): same output contract. */
  private lazy val dedupIncrementalOracle =
    s"""WITH $shingleCtes,
       |xv AS (SELECT doc_id, sh, ${duckHex("md5(sh)", 1, 8)} AS x FROM sh),
       |hf(i, a, b) AS (VALUES $minhashHf),
       |mh AS (SELECT doc_id, i, MIN((a * x + b) % ${Dedup.MinhashP}) AS m
       |  FROM xv CROSS JOIN hf GROUP BY 1, 2),
       |bands AS (SELECT doc_id, CAST(CEIL(i / 2.0) AS INT) AS band,
       |    md5(string_agg(CAST(m AS VARCHAR), '_' ORDER BY i)) AS sig
       |  FROM mh GROUP BY 1, 2),
       |cand0 AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
       |  WHERE x.doc_id % $IncrementalBatchMod = $IncrementalBatchRem
       |    AND y.doc_id % $IncrementalBatchMod <> $IncrementalBatchRem),
       |cand AS (SELECT c.new_id, c.corpus_id
       |  FROM cand0 c JOIN mh ma ON ma.doc_id = c.new_id
       |               JOIN mh mb ON mb.doc_id = c.corpus_id AND mb.i = ma.i
       |  GROUP BY 1, 2
       |  HAVING SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) >= ${Dedup.MinSigMatches}),
       |inter AS (SELECT c.new_id, c.corpus_id, COUNT(*) AS n_common
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.new_id
       |              JOIN sh sb ON sb.doc_id = c.corpus_id AND sb.sh = sa.sh
       |  GROUP BY 1, 2)
       |SELECT new_id, corpus_id,
       |  FLOOR((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = new_id
       |           JOIN sizes sb ON sb.doc_id = corpus_id
       |WHERE FLOOR((CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0
       |  >= $JaccardThreshold
       |ORDER BY new_id, corpus_id""".stripMargin

  /** The corpus-prep pipeline in one SQL statement — shared by
    * q_corpus_prep (the composed plan) and q_corpus_prep_rt (the same
    * rows read back through the partitioned parquet layout). */
  private lazy val corpusPrepOracle =
    s"""WITH nrm AS (SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
       |  FROM documents),
       |fps AS (SELECT doc_id,
       |    md5(array_to_string(list_sort(list_distinct(list_filter(
       |      string_split_regex(norm, '\\s+'), x -> x <> ''))), ' ')) AS fp
       |  FROM nrm),
       |keep AS (SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
       |t AS (SELECT n.doc_id,
       |    list_filter(string_split_regex(n.norm, '\\s+'), x -> x <> '') AS toks
       |  FROM nrm n JOIN keep k ON k.doc_id = n.doc_id),
       |m AS (SELECT doc_id,
       |    CASE WHEN toks IS NULL THEN NULL
       |         WHEN len(toks) = 0 THEN 0.3
       |         ELSE FLOOR((0.4 * LEAST(1.0, len(toks) / 50.0)
       |        + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
       |        + 0.3 * (1.0 - CAST(len(list_filter(toks,
       |            x -> x IN ('the','a','of','to','and','in','is','it'))) AS DOUBLE)
       |          / len(toks))) * 10000.0 + 0.5) / 10000.0 END AS quality
       |  FROM t),
       |thr AS (SELECT quantile_cont(quality, $QualityFilterQuantile) AS t FROM m)
       |SELECT doc_id, quality FROM m CROSS JOIN thr
       |WHERE quality >= thr.t ORDER BY doc_id""".stripMargin

  private val oracleBase: Map[String, String] = Map(
    "q_hybrid_rrf" -> {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
         |  WHERE tok IN ($terms) GROUP BY 1, 2),
         |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id,
         |    ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         |      * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
         |  FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats),
         |bm0 AS (SELECT doc_id, ROUND(SUM(s), 4) AS score FROM sc GROUP BY 1),
         |lex AS (SELECT doc_id, rank FROM (SELECT doc_id, ROW_NUMBER() OVER
         |    (ORDER BY score DESC, doc_id) AS rank FROM bm0) t WHERE rank <= $RrfDepth),
         |e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |cs AS (SELECT c.vec_id AS doc_id,
         |    ROUND(${dot("q.v", "c.v")} /
         |      (sqrt(${dot("q.v", "q.v")}) * sqrt(${dot("c.v", "c.v")})), 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0),
         |sem AS (SELECT doc_id, rank FROM (SELECT doc_id, ROW_NUMBER() OVER
         |    (ORDER BY cos DESC, doc_id) AS rank FROM cs) t WHERE rank <= $RrfDepth),
         |u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
         |f AS (SELECT doc_id,
         |    ROUND(SUM(CAST(1 AS DOUBLE) / ($RrfK + rank)), 6) AS rrf_score,
         |    COUNT(*) AS n_lists
         |  FROM u GROUP BY 1)
         |SELECT doc_id, rrf_score, n_lists, CAST(fused_rank AS INT) AS fused_rank
         |FROM (SELECT *, ROW_NUMBER() OVER
         |    (ORDER BY rrf_score DESC, doc_id) AS fused_rank FROM f) t
         |WHERE fused_rank <= $RrfTopK ORDER BY fused_rank""".stripMargin
    },
    "q_html_strip" -> {
      val script = TextAnalysis.ScriptBlockPattern
      val style = TextAnalysis.StyleBlockPattern
      val tag = TextAnalysis.TagPattern
      val anchor = TextAnalysis.AnchorPattern
      s"""WITH t AS (SELECT doc_id,
         |    '<html><head><title>t</title><style>p{color:red}</style>'
         |    || '</head><body><div id="nav"><a href="/home">Home</a> '
         |    || '<a href="/about">About</a></div><p>'
         |    || text
         |    || '</p><script type="text/javascript">var x = 1; '
         |    || 'if (x<2) { x = 2; }</script>'
         |    || CASE WHEN doc_id % 4 = 0
         |         THEN '<footer><a href="/terms">Terms</a></footer>'
         |         ELSE '' END
         |    || '</body></html>' AS t
         |  FROM documents),
         |c AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(t, '$anchor')) AS INT) AS n_links,
         |    trim(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(t, '$script', ' ', 'g'),
         |      '$style', ' ', 'g'),
         |      '$tag', ' ', 'g'),
         |      '\\s+', ' ', 'g')) AS clean
         |  FROM t)
         |SELECT doc_id, n_links, clean,
         |  ROUND(n_links / len(string_split(clean, ' ')), 4) AS link_density
         |FROM c ORDER BY doc_id""".stripMargin
    },
    "q_weighted_sample" ->
      s"""WITH s AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS w_sum
         |  FROM documents WHERE n_chars > 0)
         |SELECT doc_id, n_chars FROM documents, s
         |WHERE n_chars > 0
         |  AND (CAST($HashSplitHex AS DOUBLE) / 4294967296.0)
         |        * CAST(w_sum AS DOUBLE)
         |      < CAST(100 AS DOUBLE) * CAST(n_chars AS DOUBLE)
         |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT fp, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_dups
        |FROM (SELECT doc_id,
        |        md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))), ' ')) AS fp
        |      FROM documents) t
        |GROUP BY fp HAVING COUNT(*) >= 2 ORDER BY rep_doc_id""".stripMargin,
    "q_dedup_bloom" ->
      s"""WITH f AS (SELECT doc_id,
         |    md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))), ' ')) AS fp
         |  FROM documents)
         |SELECT b.doc_id, MIN(c.doc_id) AS dup_of
         |FROM f b JOIN f c ON b.fp = c.fp
         |WHERE b.doc_id % $IncrementalBatchMod = $IncrementalBatchRem
         |  AND c.doc_id % $IncrementalBatchMod <> $IncrementalBatchRem
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    "q_dedup_jaccard" ->
      s"""WITH $shingleCtes,
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT * FROM ($jaccardSelect) j
         |WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""".stripMargin,
    "q_tfidf_sim" ->
      s"""WITH docs2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |tok AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS term
         |  FROM docs2),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfs AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |wt AS (SELECT t.doc_id, t.term, d.df,
         |    CAST(t.tf AS BIGINT) *
         |      CAST(ROUND((LN((n.n + 1.0) / (d.df + 1.0)) + 1) * 1000) AS BIGINT) AS w
         |  FROM tf t JOIN dfs d ON t.term = d.term CROSS JOIN n),
         |ss AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS ss FROM wt GROUP BY 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
         |  WHERE a.df >= 2 AND a.df <= $JaccardMaxDf),
         |dt AS (SELECT c.doc_a, c.doc_b, CAST(SUM(a.w * b.w) AS BIGINT) AS dot
         |  FROM cand c JOIN wt a ON a.doc_id = c.doc_a
         |              JOIN wt b ON b.doc_id = c.doc_b AND b.term = a.term
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b
         |FROM dt JOIN ss sa ON sa.doc_id = doc_a JOIN ss sb ON sb.doc_id = doc_b
         |WHERE 10000 * CAST(dot AS HUGEINT) * dot >=
         |  3600 * CAST(sa.ss AS HUGEINT) * sb.ss
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_jaccard_capped" ->
      s"""WITH $shingleCtes,
         |dfs AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1),
         |capped AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfs USING (sh)
         |  WHERE df >= 2 AND df <= $JaccardMaxDf),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
         |              JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
         |  GROUP BY 1, 2)
         |SELECT * FROM ($jaccardSelect) j
         |WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $shingleCtes,
         |xv AS (SELECT doc_id, sh, ${duckHex("md5(sh)", 1, 8)} AS x FROM sh),
         |hf(i, a, b) AS (VALUES $minhashHf),
         |mh AS (SELECT doc_id, i, MIN((a * x + b) % ${Dedup.MinhashP}) AS m
         |  FROM xv CROSS JOIN hf GROUP BY 1, 2),
         |bands AS (SELECT doc_id, CAST(CEIL(i / 2.0) AS INT) AS band,
         |    md5(string_agg(CAST(m AS VARCHAR), '_' ORDER BY i)) AS sig
         |  FROM mh GROUP BY 1, 2),
         |cand0 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
         |cand AS (SELECT c.doc_a, c.doc_b
         |  FROM cand0 c JOIN mh ma ON ma.doc_id = c.doc_a
         |               JOIN mh mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
         |  GROUP BY 1, 2
         |  HAVING SUM(CASE WHEN ma.m = mb.m THEN 1 ELSE 0 END) >= ${graft.operators.Dedup.MinSigMatches}),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
         |              JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
         |  GROUP BY 1, 2)
         |SELECT * FROM ($jaccardSelect) j
         |WHERE jaccard >= $JaccardThreshold ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_incremental" -> dedupIncrementalOracle,
    // the indexed gate has the identical output contract (OperatorsSpec
    // proves indexed == rescan bit-equal), so it shares the oracle
    "q_dedup_incremental_idx" -> dedupIncrementalOracle,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $simhashCtes,
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT doc_a AS u, doc_b AS v FROM pr
         |  UNION SELECT doc_b, doc_a FROM pr),
         |nodes AS (SELECT DISTINCT u AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v)
         |SELECT id AS doc_id, MIN(r) AS rep FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $simhashCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v, label FROM embeddings)
         |SELECT * FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ROUND(${dot("a.v", "b.v")} /
         |      (sqrt(${dot("a.v", "a.v")}) * sqrt(${dot("b.v", "b.v")})), 6) AS cos
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
         |WHERE cos >= $CosineThreshold ORDER BY vec_a, vec_b""".stripMargin,
    "q_dedup_keep" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding AS v, label FROM embeddings),
         |pr AS (SELECT vec_a, vec_b FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ROUND(${dot("a.v", "b.v")} /
         |      (sqrt(${dot("a.v", "a.v")}) * sqrt(${dot("b.v", "b.v")})), 6) AS cos
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
         |  WHERE cos >= $CosineThreshold),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM pr
         |  UNION SELECT vec_b, vec_a FROM pr),
         |nodes AS (SELECT DISTINCT u AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT ed.u, reach.r FROM edges ed JOIN reach ON reach.id = ed.v),
         |cl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM cl WHERE id <> rep)
         |ORDER BY vec_id""".stripMargin,
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding AS v, label FROM embeddings),
         |pr AS (SELECT vec_a, vec_b FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ROUND(${dot("a.v", "b.v")} /
         |      (sqrt(${dot("a.v", "a.v")}) * sqrt(${dot("b.v", "b.v")})), 6) AS cos
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
         |  WHERE cos >= $CosineThreshold),
         |edges AS (SELECT vec_a AS u, vec_b AS v FROM pr
         |  UNION SELECT vec_b, vec_a FROM pr),
         |nodes AS (SELECT DISTINCT u AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT ed.u, reach.r FROM edges ed JOIN reach ON reach.id = ed.v),
         |cl AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
         |scored AS (SELECT cl.id, cl.rep, d.n_chars
         |  FROM cl JOIN documents d ON d.doc_id = cl.id),
         |ranked AS (SELECT id, ROW_NUMBER() OVER
         |    (PARTITION BY rep ORDER BY n_chars DESC, id) AS rn FROM scored)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM ranked WHERE rn > 1)
         |ORDER BY vec_id""".stripMargin,
    "q_dedup_embedding_lsh" -> {
      val hpc = duckHex("md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR))", 1, 8)
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |hp AS (SELECT j, d, $hpc % 2001 - 1000 AS c
         |  FROM range(128) s(j), range(64) t(d)),
         |qv AS (SELECT vec_id,
         |    list_transform(v, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM e),
         |vd AS (SELECT vec_id, d, q[d + 1] AS qd FROM qv, range(64) t(d)),
         |dots AS (SELECT vec_id, j, SUM(qd * c) AS s
         |  FROM vd JOIN hp USING (d) GROUP BY 1, 2),
         |sigs AS (SELECT vec_id, CAST(j // 8 AS INT) AS band,
         |    CAST(SUM(CASE WHEN s >= 0 THEN (1 << (j % 8)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM dots GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sigs a JOIN sigs b
         |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT * FROM (
         |  SELECT vec_a, vec_b,
         |    ROUND(${dot("a.v", "b.v")} /
         |      (sqrt(${dot("a.v", "a.v")}) * sqrt(${dot("b.v", "b.v")})), 6) AS cos
         |  FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b) t
         |WHERE cos >= $CosineThreshold ORDER BY vec_a, vec_b""".stripMargin
    },
    "q_ann_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROUND(${dot("q.v", "c.v")} /
         |      (sqrt(${dot("q.v", "q.v")}) * sqrt(${dot("c.v", "c.v")})), 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
         |  SELECT *, ROW_NUMBER() OVER
         |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // exhaustive probe == exact brute-force top-k (see qAnnIvfKmeans)
    "q_ann_ivf_kmeans" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROUND(${dot("q.v", "c.v")} /
         |      (sqrt(${dot("q.v", "q.v")}) * sqrt(${dot("c.v", "c.v")})), 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id % 25 = 0 AND q.vec_id <> c.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
         |  SELECT *, ROW_NUMBER() OVER
         |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v, label FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROUND(${dot("q.v", "c.v")} /
         |      (sqrt(${dot("q.v", "q.v")}) * sqrt(${dot("c.v", "c.v")})), 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id % 25 = 0 AND q.label = c.label
         |    AND q.vec_id <> c.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM ( /*ivf*/
         |  SELECT *, ROW_NUMBER() OVER
         |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // PQ sketch internals are engine-specific; the gate checks the query
    // set + the recall>=0.8 contract flag (q_occupancy_approx pattern)
    "q_ann_pq" ->
      """SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 25 = 0 ORDER BY query_id""".stripMargin,
    "q_ann_ivfpq" ->
      """SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id % 25 = 0 ORDER BY query_id
        |-- ivfpq""".stripMargin,
    "q_text_stats" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
        |    CAST(len(list_filter(toks,
        |      x -> x IN ('the','a','of','to','and','in','is','it'))) AS DOUBLE)
        |      / len(toks) AS sr
        |  FROM t)
        |SELECT doc_id, n_tokens, n_distinct,
        |  FLOOR(sr * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
        |  FLOOR((0.4 * LEAST(1.0, n_tokens / 50.0)
        |      + 0.3 * (CAST(n_distinct AS DOUBLE) / n_tokens)
        |      + 0.3 * (1.0 - sr)) * 10000.0 + 0.5) / 10000.0 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_lang_id" -> {
      val markerSql = TextAnalysis.LangMarkers.map { case (l, m) =>
        val list = m.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(toks, x -> x IN ($list))) AS INT) AS n_$l"
      }.mkString(",\n    ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = s"GREATEST(${langs.map(l => s"n_$l").mkString(", ")})"
      val pick = langs.map(l =>
        s"WHEN n_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    $markerSql
         |  FROM t)
         |SELECT doc_id, n_en, n_de, n_fr, n_es,
         |  CASE $pick ELSE 'unknown' END AS lang_pred
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "q_fingerprint" ->
      """WITH f AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))), ' ')) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS n_sharing
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_hash_split" ->
      s"""WITH u AS (SELECT doc_id,
         |    CAST($HashSplitHex AS DOUBLE) / 4294967296.0 AS u
         |  FROM documents)
         |SELECT doc_id, CASE WHEN u < 0.8 THEN 'train'
         |  WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin,
    "q_bm25" -> {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
         |  WHERE tok IN ($terms) GROUP BY 1, 2),
         |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id,
         |    ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         |      * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
         |  FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats)
         |SELECT doc_id, ROUND(SUM(s), 4) AS score FROM s GROUP BY 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    "q_length_batches" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |      x -> x <> '')) AS BIGINT) AS n_tok
         |  FROM documents),
         |r AS (SELECT doc_id, n_tok,
         |    ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rk FROM d),
         |b AS (SELECT n_tok, CAST((rk - 1) // $LbBatch AS BIGINT) AS batch_id
         |  FROM r)
         |SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_seqs,
         |  MAX(n_tok) AS max_len, CAST(SUM(n_tok) AS BIGINT) AS sum_len,
         |  CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS padding
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical smoothed-ratio arithmetic: exact integer counts into
    // one IEEE division + one ln per bigram instance, float summation
    // only inside the per-doc average (the charEntropy convention);
    // model counts come from the REFERENCE slice only, scoring covers
    // every document (unseen bigrams take the smoothed floor)
    "q_perplexity" ->
      s"""WITH docs2 AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS wd
         |  FROM documents),
         |idx AS (SELECT doc_id, wd, unnest(range(1, len(wd))) AS i
         |  FROM docs2 WHERE len(wd) >= 2),
         |pairs AS (SELECT doc_id, wd[i] AS w1, wd[i + 1] AS w2 FROM idx),
         |ref AS (SELECT * FROM pairs WHERE doc_id % $BenchMod <> 0),
         |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM ref GROUP BY 1, 2),
         |c1 AS (SELECT w1, COUNT(*) AS c1 FROM ref GROUP BY 1),
         |v AS (SELECT COUNT(DISTINCT x) AS v FROM (
         |    SELECT unnest(wd) AS x FROM docs2
         |    WHERE doc_id % $BenchMod <> 0)),
         |s AS (SELECT p.doc_id,
         |    -ln((COALESCE(c12.c12, 0) + 0.5)
         |      / (COALESCE(c1.c1, 0) + 0.5 * v.v)) AS nll
         |  FROM pairs p LEFT JOIN c12 USING (w1, w2)
         |  LEFT JOIN c1 USING (w1) CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |    SUM(nll) AS snll FROM s GROUP BY 1)
         |SELECT d.doc_id,
         |  COALESCE(a.n_bigrams, 0) AS n_bigrams,
         |  ROUND(a.snll / a.n_bigrams, 4) AS avg_nll
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    // the greedy fold replayed literally: one recursion step per rank,
    // all streams advancing in parallel rows
    "q_pack_atomic" -> {
      val streamHex = duckHex("md5(CAST(doc_id AS VARCHAR) || '|pack0')", 1, 8)
      s"""WITH RECURSIVE docs AS (SELECT doc_id,
         |    CAST(n_chars AS BIGINT) AS len,
         |    CAST($streamHex % $PackStreams AS INT) AS stream
         |  FROM documents),
         |ranked AS (SELECT doc_id, len, stream,
         |    ROW_NUMBER() OVER (PARTITION BY stream
         |      ORDER BY len DESC, doc_id) AS rank FROM docs),
         |step(stream, rank, doc_id, len, bin, rem) AS (
         |  SELECT stream, rank, doc_id, len, CAST(0 AS BIGINT),
         |    $PackMaxLen - len
         |  FROM ranked WHERE rank = 1
         |  UNION ALL
         |  SELECT d.stream, d.rank, d.doc_id, d.len,
         |    CASE WHEN d.len <= s.rem THEN s.bin ELSE s.bin + 1 END,
         |    CASE WHEN d.len <= s.rem THEN s.rem - d.len
         |         ELSE $PackMaxLen - d.len END
         |  FROM step s JOIN ranked d
         |    ON d.stream = s.stream AND d.rank = s.rank + 1)
         |SELECT doc_id, stream, CAST(rank AS BIGINT) AS rank, bin,
         |  CAST($PackMaxLen - rem - len AS BIGINT) AS offset
         |FROM step ORDER BY stream, rank""".stripMargin
    },
    "q_schema_drift" ->
      """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n10
        |  FROM documents),
        |rows AS (
        |  SELECT 'doc_id' AS c, 'kept' AS status,
        |    'bigint' AS type_prev, 'bigint' AS type_cur,
        |    CAST(0.0 AS DOUBLE) AS null_ratio_prev,
        |    CAST(0.0 AS DOUBLE) AS null_ratio_cur FROM t
        |  UNION ALL SELECT 'lang', 'kept', 'string', 'string',
        |    CAST(0.0 AS DOUBLE), ROUND(CAST(n10 AS DOUBLE) / n, 4) FROM t
        |  UNION ALL SELECT 'n_chars', 'type_changed', 'bigint', 'double',
        |    CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE) FROM t
        |  UNION ALL SELECT 'source', 'added', NULL, 'string',
        |    NULL, CAST(0.0 AS DOUBLE) FROM t
        |  UNION ALL SELECT 'text', 'removed', 'string', NULL,
        |    CAST(0.0 AS DOUBLE), NULL FROM t)
        |SELECT c AS "column", status, type_prev, type_cur,
        |  null_ratio_prev, null_ratio_cur
        |FROM rows ORDER BY c""".stripMargin,
    "q_collocations" ->
      s"""WITH ws AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
         |  FROM documents),
         |toks AS (SELECT unnest(w) AS tok FROM ws),
         |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
         |idx AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
         |  FROM ws WHERE len(w) >= 2),
         |pc AS (SELECT w[i] AS w1, w[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS n_pair
         |  FROM idx GROUP BY 1, 2 HAVING COUNT(*) >= $CollocMinCount)
         |SELECT w1, w2, n_pair,
         |  ROUND(ln((CAST(n_pair AS DOUBLE) * tot.n)
         |    / (CAST(u1.c AS DOUBLE) * u2.c)), 4) AS pmi
         |FROM pc JOIN uni u1 ON u1.tok = pc.w1
         |        JOIN uni u2 ON u2.tok = pc.w2 CROSS JOIN tot
         |ORDER BY pmi DESC, w1, w2 LIMIT $CollocK""".stripMargin,
    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ch WHERE c <> '' GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
        |    SUM(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS slc
        |  FROM cc GROUP BY 1)
        |SELECT doc_id, n_chars,
        |  ROUND(ln(CAST(n_chars AS DOUBLE)) - slc / CAST(n_chars AS DOUBLE), 4)
        |    AS entropy
        |FROM agg ORDER BY doc_id""".stripMargin,
    // the whole sketch rebuilt in SQL — same md5 hash, same slots,
    // same collisions — so estimates compare EXACTLY, and the
    // single-pass build pins the two-epoch fold's mergeability
    "q_count_min" -> {
      val dHash = duckHex("md5(tok || '|' || CAST(d AS VARCHAR))", 1, 8)
      val pHash = duckHex("md5(item || '|' || CAST(d AS VARCHAR))", 1, 8)
      val probes = CmProbes.map(p => s"('$p')").mkString(", ")
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |dd(d) AS (VALUES ${(0 until CmDepth).map(d => s"($d)").mkString(", ")}),
         |pos AS (SELECT d, $dHash % $CmWidth AS slot FROM toks CROSS JOIN dd),
         |cm AS (SELECT d, slot, COUNT(*) AS cnt FROM pos GROUP BY 1, 2),
         |probes(item) AS (VALUES $probes),
         |ppos AS (SELECT item, d, $pHash % $CmWidth AS slot
         |  FROM probes CROSS JOIN dd),
         |est AS (SELECT item, MIN(coalesce(cm.cnt, 0)) AS est
         |  FROM ppos LEFT JOIN cm USING (d, slot) GROUP BY 1),
         |tc AS (SELECT tok AS item, CAST(COUNT(*) AS BIGINT) AS true_cnt
         |  FROM toks GROUP BY 1)
         |SELECT est.item, CAST(est.est AS BIGINT) AS est,
         |  CAST(coalesce(tc.true_cnt, 0) AS BIGINT) AS true_cnt
         |FROM est LEFT JOIN tc USING (item) ORDER BY item""".stripMargin
    },
    // AND semantics: same CTE chain, candidates restricted to docs
    // matching every term; df stays corpus-level
    "q_bm25_conj" -> {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
         |  WHERE tok IN ($terms) GROUP BY 1, 2),
         |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         |alldocs AS (SELECT doc_id FROM tf GROUP BY doc_id
         |  HAVING COUNT(*) = ${Bm25Terms.distinct.size}),
         |s AS (SELECT tf.doc_id,
         |    ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         |      * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
         |  FROM tf JOIN alldocs USING (doc_id) JOIN dft USING (tok)
         |    JOIN dl USING (doc_id) CROSS JOIN stats)
         |SELECT doc_id, ROUND(SUM(s), 4) AS score FROM s GROUP BY 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    // the index path must match the corpus-scan path exactly — one
    // oracle, two access paths
    "q_bm25_indexed" -> {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
         |  WHERE tok IN ($terms) GROUP BY 1, 2),
         |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id,
         |    ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         |      * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
         |  FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats)
         |SELECT doc_id, ROUND(SUM(s), 4) AS score FROM s GROUP BY 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    // the incrementally-maintained index must match the full-corpus
    // scan too — same oracle, third access path (build → upsert →
    // optimize)
    "q_bm25_incremental" -> {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
         |  WHERE tok IN ($terms) GROUP BY 1, 2),
         |dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id,
         |    ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         |      * tf.tf * 2.2
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
         |  FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats)
         |SELECT doc_id, ROUND(SUM(s), 4) AS score FROM s GROUP BY 1
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    "q_nfc_normalize" ->
      """WITH d AS (SELECT doc_id,
        |    'cafe' || chr(769) || ' ' || lang || ' e' || chr(769) ||
        |    'cole A' || chr(778) AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm,
        |  CAST(length(raw) AS INT) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_change_feed" ->
      """WITH a AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 11 <> 0),
        |b AS (SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en'),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    a.doc_id IS NOT NULL AS in_a, b.doc_id IS NOT NULL AS in_b,
        |    a.lang AS a_lang, a.n_chars AS a_n,
        |    b.lang AS b_lang, b.n_chars AS b_n
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT in_a THEN 'I' WHEN NOT in_b THEN 'D' ELSE 'U' END AS op,
        |  CASE WHEN in_b THEN b_lang ELSE a_lang END AS lang,
        |  CASE WHEN in_b THEN b_n ELSE a_n END AS n_chars
        |FROM j
        |WHERE (NOT in_a) OR (NOT in_b) OR a_lang <> b_lang OR a_n <> b_n
        |ORDER BY doc_id""".stripMargin,
    "q_seq_ids" ->
      """SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS seq_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mixture_temp" -> {
      // τ = 4: wt = sqrt(sqrt(n)) — IEEE sqrt is correctly rounded, so
      // the rates are bit-identical to Spark's; same (s·w)/n op order
      // as the q_domain_mix oracle
      // NULL-lang rows can't join the rate table on either side, so
      // the salt needs no NULL guard (q_domain_mix precedent)
      val uHex = duckHex("md5(CAST(d.doc_id AS VARCHAR) || '|' || d.lang)", 1, 8)
      s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
         |w AS (SELECT lang, n, sqrt(sqrt(n)) AS wt FROM c),
         |s AS (SELECT lang, n, wt, MIN(n / wt) OVER () AS sc FROM w),
         |r AS (SELECT lang, (sc * wt) / n AS rate FROM s)
         |SELECT d.doc_id, d.lang FROM documents d
         |JOIN r ON r.lang = d.lang
         |WHERE CAST($uHex AS DOUBLE) / 4294967296.0 < r.rate
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_bpe_pairs" ->
      s"""WITH wc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT unnest(string_split_regex(text, '\\s+')) AS w
         |    FROM documents) WHERE w <> '' GROUP BY w),
         |idx AS (SELECT w, n,
         |    unnest(generate_series(1, length(w) - 1)) AS i FROM wc),
         |pairs AS (SELECT substring(w, i, 1) AS lsym,
         |    substring(w, i + 1, 1) AS rsym, n FROM idx)
         |SELECT lsym, rsym, CAST(SUM(n) AS BIGINT) AS cnt
         |FROM pairs GROUP BY 1, 2
         |ORDER BY cnt DESC, lsym, rsym LIMIT $BpePairsK""".stripMargin,
    "q_stratified_sample" -> {
      val uHex = duckHex("md5(CAST(doc_id AS VARCHAR) || '|' || modality)", 1, 8)
      val cases = StratifiedFractions.map { case (s, f) =>
        s"WHEN '$s' THEN $f" }.mkString(" ")
      s"""WITH d AS (SELECT doc_id,
         |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS modality
         |  FROM documents),
         |u AS (SELECT doc_id, modality,
         |    CAST($uHex AS DOUBLE) / 4294967296.0 AS u FROM d)
         |SELECT doc_id, modality FROM u
         |WHERE u < CASE modality $cases ELSE 0.0 END
         |ORDER BY doc_id""".stripMargin
    },
    "q_winnow_overlap" ->
      s"""WITH docs2 AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
         |grams AS (SELECT doc_id, unnest(list_transform(range(1, len(wd) - ${WinnowK - 2}),
         |    i -> struct_pack(pos := i, m := md5(array_to_string(wd[i:i+${WinnowK - 1}], ' '))))) AS g
         |  FROM docs2 WHERE len(wd) >= $WinnowK),
         |g2 AS (SELECT doc_id, g.pos AS pos, ${duckHex("g.m", 1, 8)} AS h FROM grams),
         |wins AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wmin FROM g2),
         |fp AS (SELECT DISTINCT doc_id, wmin AS fp FROM wins WHERE pos >= $WinnowW)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the capped mode replays the same pipeline with the df guard in
    // the candidate CTE (the q_dedup_jaccard_capped pattern): a pair is
    // emitted iff it shares >= minShared fingerprints EACH with df <= cap
    "q_winnow_capped" ->
      s"""WITH docs2 AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
         |grams AS (SELECT doc_id, unnest(list_transform(range(1, len(wd) - ${WinnowK - 2}),
         |    i -> struct_pack(pos := i, m := md5(array_to_string(wd[i:i+${WinnowK - 1}], ' '))))) AS g
         |  FROM docs2 WHERE len(wd) >= $WinnowK),
         |g2 AS (SELECT doc_id, g.pos AS pos, ${duckHex("g.m", 1, 8)} AS h FROM grams),
         |wins AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wmin FROM g2),
         |fp0 AS (SELECT DISTINCT doc_id, wmin AS fp FROM wins WHERE pos >= $WinnowW),
         |ok AS (SELECT fp FROM fp0 GROUP BY fp HAVING COUNT(*) <= $WinnowMaxDf),
         |fp AS (SELECT fp0.doc_id, fp0.fp FROM fp0 JOIN ok USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_domain_mix" -> {
      val valuesSql = DomainMixWeights.toSeq.sortBy(_._1)
        .map { case (d, wt) => s"('$d', CAST($wt AS DOUBLE))" }.mkString(", ")
      val uHex = duckHex("md5(CAST(d.doc_id AS VARCHAR) || '|' || d.source)", 1, 8)
      s"""WITH w(domain, wt) AS (VALUES $valuesSql),
         |counts AS (SELECT source AS domain, COUNT(*) AS n
         |  FROM documents JOIN w ON w.domain = documents.source GROUP BY 1),
         |cw AS (SELECT domain, n, wt FROM counts JOIN w USING (domain)),
         |sv AS (SELECT MIN(n / wt) AS s FROM cw),
         |rates AS (SELECT domain, (sv.s * wt) / n AS rate FROM cw CROSS JOIN sv)
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN rates r ON r.domain = d.source
         |WHERE CAST($uHex AS DOUBLE) / 4294967296.0 < r.rate
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_group_sample" -> {
      val uHex = duckHex("md5(CAST(doc_id AS VARCHAR) || '|' || lang)", 1, 8)
      s"""WITH r AS (SELECT doc_id, lang,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY $uHex, doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, lang FROM r WHERE rk <= $GroupSampleK
         |ORDER BY doc_id""".stripMargin
    },
    // identical draw, aggregate plan — the oracle is deliberately the
    // same SQL: both physical strategies must pick the same rows
    "q_group_sample_agg" -> {
      val uHex = duckHex("md5(CAST(doc_id AS VARCHAR) || '|' || lang)", 1, 8)
      s"""WITH r AS (SELECT doc_id, lang,
         |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY $uHex, doc_id) AS rk
         |  FROM documents)
         |SELECT doc_id, lang FROM r WHERE rk <= $GroupSampleK
         |ORDER BY doc_id""".stripMargin
    },
    // the CASE mirrors Spark's n>0 guards: a zero-token doc scores
    // exactly 0.3 (length 0, diversity 0, stopword-penalty full), and a
    // NULL text scores NULL (filtered by the >= comparison) — without
    // it one empty doc would shift the GLOBAL quantile threshold and
    // corrupt every row's keep decision
    "q_quality_filter" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CASE WHEN toks IS NULL THEN NULL
         |         WHEN len(toks) = 0 THEN 0.3
         |         ELSE FLOOR((0.4 * LEAST(1.0, len(toks) / 50.0)
         |        + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
         |        + 0.3 * (1.0 - CAST(len(list_filter(toks,
         |            x -> x IN ('the','a','of','to','and','in','is','it'))) AS DOUBLE)
         |          / len(toks))) * 10000.0 + 0.5) / 10000.0 END AS quality
         |  FROM t),
         |thr AS (SELECT quantile_cont(quality, $QualityFilterQuantile) AS t FROM m)
         |SELECT doc_id, quality FROM m CROSS JOIN thr
         |WHERE quality >= thr.t ORDER BY doc_id""".stripMargin,
    "q_url_extract" ->
      s"""WITH t AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 2 = 0 THEN ' see https://example'
         |       || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' || CAST(doc_id AS VARCHAR)
         |     ELSE '' END
         |  || CASE WHEN doc_id % 6 = 0 THEN ' and http://mirror'
         |       || CAST(doc_id % 3 AS VARCHAR) || '.org'
         |     ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${TextAnalysis.UrlPattern}')) AS INT) AS n_urls,
         |  COALESCE(array_to_string(list_transform(regexp_extract_all(t, '${TextAnalysis.UrlPattern}'),
         |    u -> regexp_extract(u, '${TextAnalysis.UrlHostGroup}', 1)), ','), '') AS hosts
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    lower('  A-B%%c  ' || text || '!! d/e '),
        |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_snapshot_diff" ->
      """WITH prev AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 11 <> 3),
        |cur AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN p.fp <> c.fp THEN 'changed'
        |       ELSE 'unchanged' END AS change_type
        |FROM prev p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_corpus_prep" -> corpusPrepOracle,
    // same oracle: the round trip through the partitioned parquet layout
    // must be lossless, so the read-back rows equal the prep output
    "q_corpus_prep_rt" -> corpusPrepOracle,
    // MERGE semantics spelled out relationally: kept = base rows whose
    // key has no update, plus all updates; then DELETE's key slice out
    "q_merge_upsert" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 7),
        |upd AS (
        |  SELECT doc_id, lang, 'UPDATED: ' || text AS text
        |  FROM documents WHERE doc_id % 5 = 2),
        |merged AS (
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = b.doc_id)
        |  UNION ALL
        |  SELECT * FROM upd)
        |SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_len,
        |  substr(text, 1, 12) AS head
        |FROM merged WHERE doc_id % 10 <> 4
        |ORDER BY doc_id""".stripMargin,
    "q_cdc_apply" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 9),
        |ch AS (
        |  SELECT doc_id, lang, 'V1: ' || text AS text, 'U' AS op,
        |         doc_id * 10 + 1 AS seq
        |  FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'xx', 'NEW: ' || text, 'I', doc_id * 10 + 1
        |  FROM documents WHERE doc_id % 17 = 5
        |  UNION ALL
        |  SELECT doc_id, lang, 'V2: ' || text, 'U', doc_id * 10 + 2
        |  FROM documents WHERE doc_id % 15 = 1
        |  UNION ALL
        |  SELECT doc_id, lang, text, 'D', doc_id * 10 + 3
        |  FROM documents WHERE doc_id % 10 = 6
        |  UNION ALL
        |  SELECT doc_id, lang, 'BACK: ' || text, 'U', doc_id * 10 + 4
        |  FROM documents WHERE doc_id % 30 = 26
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, text, 'D', doc_id * 10 + 5
        |  FROM documents WHERE doc_id % 34 = 5),
        |w AS (SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY doc_id ORDER BY seq DESC) AS rn FROM ch),
        |win AS (SELECT doc_id, lang, text, op FROM w WHERE rn = 1),
        |kept AS (
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM win x WHERE x.doc_id = b.doc_id)),
        |fin AS (
        |  SELECT doc_id, lang, text FROM kept
        |  UNION ALL
        |  SELECT doc_id, lang, text FROM win WHERE op <> 'D')
        |SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_len,
        |  substr(text, 1, 12) AS head
        |FROM fin ORDER BY doc_id""".stripMargin,
    "q_shard_assign" -> {
      val h = duckHex(s"md5(CAST(doc_id AS VARCHAR) || '|$ShardSeed')", 1, 8)
      s"""WITH u AS (SELECT doc_id, $h AS h FROM documents),
         |s AS (SELECT doc_id, h, CAST(h % $ShardCount AS INT) AS shard FROM u)
         |SELECT doc_id, shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
         |    AS BIGINT) AS pos
         |FROM s ORDER BY shard, pos""".stripMargin
    },
    "q_topk_freq" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS (SELECT tok AS item, COUNT(*) AS n FROM toks GROUP BY 1)
         |SELECT item, n, CAST(0 AS BIGINT) AS err FROM c
         |ORDER BY n DESC, item LIMIT $TopkFreqK""".stripMargin,
    "q_oov_rate" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |cnt AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
         |vocab AS (SELECT tok FROM cnt ORDER BY n DESC, tok ASC LIMIT $OovVocabSize)
         |SELECT t.doc_id, COUNT(*) AS n_tokens,
         |  COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
         |  FLOOR((COUNT(*) FILTER (WHERE v.tok IS NULL) / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS oov_rate
         |FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_embedding_outliers" ->
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
         |  FROM embeddings),
         |inst AS (SELECT label, generate_subscripts(qv, 1) AS pos, unnest(qv) AS q FROM e),
         |cmp AS (SELECT label, pos, CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS c
         |  FROM inst GROUP BY 1, 2),
         |cent AS (SELECT label, array_agg(c ORDER BY pos) AS cvec FROM cmp GROUP BY 1),
         |cn AS (SELECT label, cvec,
         |    sqrt(list_reduce(list_transform(cvec, x -> x * x), (a, b) -> a + b)) AS cnorm
         |  FROM cent),
         |sc AS (SELECT e.vec_id, e.label,
         |    list_transform(e.qv, q -> CAST(q AS DOUBLE) / 1000000.0) AS v, cn.cvec, cn.cnorm
         |  FROM e JOIN cn ON cn.label = e.label),
         |co AS (SELECT vec_id, label,
         |    ROUND(list_reduce(list_transform(list_zip(v, cvec), x -> x[1] * x[2]), (a, b) -> a + b)
         |      / (sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) * cnorm), 4) AS cos_centroid
         |  FROM sc)
         |SELECT vec_id, label, cos_centroid,
         |  (cos_centroid < $CentroidOutlierThreshold) AS is_outlier
         |FROM co ORDER BY vec_id""".stripMargin,
    "q_top_ngrams" ->
      """WITH docs2 AS (SELECT string_split(text, ' ') AS w FROM documents),
        |shl AS (SELECT unnest(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS sh FROM docs2)
        |SELECT sh, COUNT(*) AS n FROM shl
        |GROUP BY 1 ORDER BY n DESC, sh LIMIT 20""".stripMargin,
    "q_pii_redact" -> {
      val email = TextAnalysis.EmailPattern
      val phone = TextAnalysis.PhonePattern
      val ssn = TextAnalysis.SsnPattern
      s"""WITH t AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |    || CASE WHEN doc_id % 3 = 0 THEN ' call '
         |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |         || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-'
         |         || lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
         |       ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' id '
         |         || lpad(CAST((doc_id * 3) % 1000 AS VARCHAR), 3, '0') || '-'
         |         || lpad(CAST((doc_id * 11) % 100 AS VARCHAR), 2, '0') || '-'
         |         || lpad(CAST((doc_id * 17) % 10000 AS VARCHAR), 4, '0')
         |       ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$email')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$phone')) AS INT) AS n_phone,
         |  CAST(len(regexp_extract_all(t, '$ssn')) AS INT) AS n_ssn,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$ssn', '[SSN]', 'g'), '$phone', '[PHONE]', 'g'),
         |    '$email', '[EMAIL]', 'g') AS clean
         |FROM t ORDER BY doc_id""".stripMargin
    },
    "q_chunk" -> {
      val stride = ChunkSize - ChunkOverlap
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |s AS (SELECT doc_id, toks, n, unnest(range(0, n, $stride)) AS st FROM n)
         |SELECT doc_id, CAST(st // $stride AS INT) AS chunk_idx,
         |  array_to_string(toks[CAST(st + 1 AS INT):CAST(st + $ChunkSize AS INT)], ' ') AS chunk_text,
         |  CAST(LEAST(st + $ChunkSize, n) - st AS INT) AS n_chunk_tokens
         |FROM s ORDER BY doc_id, chunk_idx""".stripMargin
    },
    "q_pack" -> {
      val stride = ChunkSize - ChunkOverlap
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |n AS (SELECT doc_id, len(toks) AS n FROM t WHERE len(toks) > 0),
         |s AS (SELECT doc_id, n, unnest(range(0, n, $stride)) AS st FROM n),
         |ch AS (SELECT doc_id, CAST(st // $stride AS INT) AS chunk_idx,
         |    CAST(LEAST(st + $ChunkSize, n) - st AS INT) AS n_chunk_tokens
         |  FROM s),
         |sh AS (SELECT *, CAST($HashSplitHex % $PackShards AS INT) AS shard FROM ch),
         |runo AS (SELECT *, SUM(n_chunk_tokens) OVER (PARTITION BY shard
         |    ORDER BY doc_id, chunk_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    - n_chunk_tokens AS off FROM sh)
         |SELECT doc_id, chunk_idx, n_chunk_tokens, shard,
         |  CAST(off AS BIGINT) AS "offset",
         |  CAST(off // $PackCapacity AS BIGINT) AS pack_id,
         |  CAST(off % $PackCapacity AS INT) AS pack_offset
         |FROM runo ORDER BY doc_id, chunk_idx""".stripMargin
    },
    "q_repetition" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |ts AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n_tokens,
        |    CASE WHEN len(toks) > 0
        |      THEN FLOOR((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000.0 + 0.5) / 10000.0
        |      ELSE 0.0 END AS dup_token_frac
        |  FROM t),
        |shl AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh
        |  FROM ts),
        |c AS (SELECT doc_id, sh, COUNT(*) AS cnt FROM shl GROUP BY 1, 2),
        |f AS (SELECT doc_id, FLOOR((CAST(MAX(cnt) AS DOUBLE) / SUM(cnt)) * 10000.0 + 0.5) / 10000.0 AS top_bigram_frac
        |  FROM c GROUP BY 1)
        |SELECT ts.doc_id, n_tokens, dup_token_frac,
        |  COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac,
        |  COALESCE(top_bigram_frac, 0.0) >= 0.10 AS flagged
        |FROM ts LEFT JOIN f ON ts.doc_id = f.doc_id ORDER BY ts.doc_id""".stripMargin,
    "q_contamination" ->
      s"""WITH dd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
         |  WHERE doc_id % $BenchMod <> 0),
         |dsl AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
         |  FROM dd),
         |dsh AS (SELECT DISTINCT doc_id, sh FROM dsl),
         |bb AS (SELECT string_split(text, ' ') AS w FROM documents
         |  WHERE doc_id % $BenchMod = 0),
         |bsl AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
         |  FROM bb),
         |bsh AS (SELECT DISTINCT sh FROM bsl),
         |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
         |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM dsh JOIN bsh USING (sh) GROUP BY 1)
         |SELECT tot.doc_id, CAST(n_sh AS BIGINT) AS n_sh,
         |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
         |  FLOOR((CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_sh) * 10000.0 + 0.5) / 10000.0 AS contamination
         |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id ORDER BY tot.doc_id""".stripMargin,
    "q_verbatim_cov" ->
      """WITH docs2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |grams AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) - 6), i -> array_to_string(w[i:i+7], ' '))) AS g
        |  FROM docs2),
        |pd AS (SELECT doc_id, g, COUNT(*) AS n FROM grams GROUP BY 1, 2),
        |dfd AS (SELECT g, COUNT(*) AS df_docs FROM pd GROUP BY 1)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN df_docs >= 2 THEN n ELSE 0 END) AS BIGINT) AS n_shared,
        |  CAST((100 * SUM(CASE WHEN df_docs >= 2 THEN n ELSE 0 END)) // SUM(n) AS BIGINT) AS shared_pct
        |FROM pd JOIN dfd USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_line_dedup" ->
      s"""WITH t AS (SELECT doc_id,
         |    'SHARED HEADER: all rights reserved' || chr(10) ||
         |    CASE WHEN doc_id % 3 = 0 THEN 'PROMO: subscribe now' || chr(10) ELSE '' END ||
         |    text ||
         |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'FOOTER: contact us' ELSE '' END AS t
         |  FROM documents),
         |ls AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM t),
         |l0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
         |    i -> struct_pack(pos := i, line := trim(ls[i])))) AS g FROM ls),
         |l2 AS (SELECT doc_id, g.pos AS pos, g.line AS line FROM l0 WHERE g.line <> ''),
         |boiler AS (SELECT line FROM
         |  (SELECT line, COUNT(DISTINCT doc_id) AS ldf FROM l2 GROUP BY 1)
         |  WHERE ldf > $LineDedupMaxDf),
         |kept AS (SELECT l2.* FROM l2 ANTI JOIN boiler USING (line)),
         |asm AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         |    COUNT(*) AS n_kept FROM kept GROUP BY 1),
         |nl AS (SELECT doc_id, COUNT(*) AS n_lines FROM l2 GROUP BY 1)
         |SELECT d.doc_id, COALESCE(asm.clean_text, '') AS clean_text,
         |  CAST(COALESCE(asm.n_kept, 0) AS INT) AS n_kept,
         |  CAST(COALESCE(nl.n_lines, 0) - COALESCE(asm.n_kept, 0) AS INT) AS n_dropped
         |FROM documents d LEFT JOIN asm USING (doc_id) LEFT JOIN nl USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_embedding_quant" ->
      s"""WITH m AS (SELECT vec_id, embedding,
         |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
         |  FROM embeddings),
         |s AS (SELECT vec_id, embedding,
         |    CASE WHEN ma IS NULL OR ma = 0 THEN 1.0 ELSE ma / 127.0 END AS scale
         |  FROM m),
         |e AS (SELECT vec_id, scale,
         |    list_transform(embedding, x ->
         |      CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale, 0) * scale) AS d
         |  FROM s)
         |SELECT vec_id, ROUND(scale, 6) AS scale_r,
         |  ROUND(SQRT(list_sum(list_transform(d, x -> x * x))), 4) AS l2_err
         |FROM e ORDER BY vec_id""".stripMargin,
    // scales cancel out of the quantized cosine: integer dots, exact oracle
    "q_ann_topk_quant" ->
      s"""WITH m AS (SELECT vec_id, embedding,
         |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
         |  FROM embeddings),
         |qz AS (SELECT vec_id, list_transform(embedding, x ->
         |      round(CAST(x AS DOUBLE) /
         |        (CASE WHEN ma IS NULL OR ma = 0 THEN 1.0 ELSE ma / 127.0 END), 0)) AS q
         |  FROM m),
         |n AS (SELECT vec_id, q,
         |    sqrt(list_sum(list_transform(q, x -> x * x))) AS nq
         |  FROM qz WHERE list_sum(list_transform(q, x -> x * x)) > 0),
         |s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    ROUND(list_sum(list_transform(range(1, len(a.q) + 1),
         |      i -> a.q[i] * b.q[i])) / (a.nq * b.nq), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id % 25 = 0 AND a.vec_id <> b.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos FROM (
         |  SELECT *, ROW_NUMBER() OVER
         |    (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s) t
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_lm_score" ->
      """WITH docs2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |inst AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh,
        |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS head
        |  FROM docs2 WHERE len(w) >= 2),
        |cnt AS (SELECT sh, COUNT(*) AS c_bg FROM inst GROUP BY 1),
        |heads AS (SELECT head, COUNT(*) AS c_head FROM inst GROUP BY 1),
        |j AS (SELECT doc_id, ln(CAST(c_bg AS DOUBLE) / c_head) AS lp
        |  FROM inst JOIN cnt USING (sh) JOIN heads USING (head))
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
        |  ROUND(AVG(lp), 4) AS lm_score
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_curation" ->
      s"""WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % $BenchMod <> 0),
         |t AS (SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM tr),
         |q AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |    CASE WHEN len(toks) > 0
         |      THEN FLOOR((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000.0 + 0.5) / 10000.0
         |      ELSE 0.0 END AS dup_token_frac,
         |    FLOOR((0.4 * LEAST(1.0, len(toks) / 50.0)
         |      + 0.3 * (CASE WHEN len(toks) > 0
         |          THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) ELSE 0.0 END)
         |      + 0.3 * (1.0 - CASE WHEN len(toks) > 0
         |          THEN CAST(len(list_filter(toks,
         |            x -> x IN ('the','a','of','to','and','in','is','it'))) AS DOUBLE) / len(toks)
         |          ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0 AS quality
         |  FROM t),
         |shl AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS sh
         |  FROM t),
         |c AS (SELECT doc_id, sh, COUNT(*) AS cnt FROM shl GROUP BY 1, 2),
         |f AS (SELECT doc_id, FLOOR((CAST(MAX(cnt) AS DOUBLE) / SUM(cnt)) * 10000.0 + 0.5) / 10000.0 AS top_bigram_frac
         |  FROM c GROUP BY 1),
         |docs2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM tr),
         |inst AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh,
         |    unnest(list_transform(range(1, len(w)), i -> w[i])) AS head
         |  FROM docs2 WHERE len(w) >= 2),
         |cnt AS (SELECT sh, COUNT(*) AS c_bg FROM inst GROUP BY 1),
         |heads AS (SELECT head, COUNT(*) AS c_head FROM inst GROUP BY 1),
         |lm AS (SELECT doc_id, ROUND(AVG(ln(CAST(c_bg AS DOUBLE) / c_head)), 4) AS lm_score
         |  FROM inst JOIN cnt USING (sh) JOIN heads USING (head) GROUP BY 1),
         |dsh AS (SELECT DISTINCT doc_id, sh FROM inst),
         |bb AS (SELECT string_split(text, ' ') AS w FROM documents
         |  WHERE doc_id % $BenchMod = 0),
         |bsh AS (SELECT DISTINCT sh FROM (SELECT
         |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
         |  FROM bb)),
         |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY 1),
         |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM dsh JOIN bsh USING (sh) GROUP BY 1),
         |cont AS (SELECT tot.doc_id,
         |    FLOOR((CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_sh) * 10000.0 + 0.5) / 10000.0 AS contamination
         |  FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id)
         |SELECT q.doc_id, q.n_tokens, q.quality, q.dup_token_frac,
         |  COALESCE(f.top_bigram_frac, 0.0) AS top_bigram_frac,
         |  COALESCE(lm.lm_score, 0.0) AS lm_score,
         |  COALESCE(cont.contamination, 0.0) AS contamination,
         |  (COALESCE(f.top_bigram_frac, 0.0) < 0.10 AND q.quality >= 0.65
         |    AND COALESCE(cont.contamination, 0.0) < 0.5) AS keep
         |FROM q LEFT JOIN f ON q.doc_id = f.doc_id
         |       LEFT JOIN lm ON q.doc_id = lm.doc_id
         |       LEFT JOIN cont ON q.doc_id = cont.doc_id
         |ORDER BY q.doc_id""".stripMargin,
    "q_frame_sample" ->
      """WITH v AS (SELECT doc_id, text,
        |    CAST((strlen(text) + 63) // 64 AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2 AND strlen(text) > 0),
        |u AS (SELECT doc_id, text, n_frames,
        |    unnest(range(0, n_frames, 4)) AS i FROM v)
        |SELECT doc_id, n_frames, CAST(i // 4 AS INT) AS sample_idx,
        |  substring(text, CAST(i * 64 + 1 AS INT), 64) AS frame_text,
        |  CAST(strlen(substring(text, CAST(i * 64 + 1 AS INT), 64)) AS INT)
        |    AS frame_bytes
        |FROM u ORDER BY doc_id, sample_idx""".stripMargin,
    "q_multimodal_meta" -> {
      val w4 = duckHex("h", 1, 4)
      val h4 = duckHex("h", 5, 4)
      s"""WITH b AS (SELECT doc_id, text, encode(text) AS blob FROM documents),
         |m AS (SELECT doc_id, blob, sha256(text) AS h FROM b)
         |SELECT doc_id, h AS payload_sha,
         |  CAST(octet_length(blob) AS INT) AS n_bytes,
         |  (['image', 'audio', 'video'])[doc_id % 3 + 1] AS modality,
         |  64 + $w4 % 1856 AS width,
         |  64 + $h4 % 1016 AS height
         |FROM m ORDER BY doc_id""".stripMargin
    })

  /** The merge-on-read twins run the SAME algebra on the vector path —
    * byte-identical oracles are the point: two engine grains, one
    * answer. The equality-delete gate extends the fold with a second,
    * still-pending merge, so its oracle models one more step. */
  val oracleSql: Map[String, String] = oracleBase ++ Map(
    "q_merge_dv" -> oracleBase("q_merge_upsert"),
    "q_cdc_dv"   -> oracleBase("q_cdc_apply"),
    "q_cdc_eq"   -> oracleBase("q_cdc_apply"),
    "q_merge_eq" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 7),
        |upd AS (
        |  SELECT doc_id, lang, 'UPDATED: ' || text AS text
        |  FROM documents WHERE doc_id % 5 = 2),
        |merged AS (
        |  SELECT b.* FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = b.doc_id)
        |  UNION ALL
        |  SELECT * FROM upd),
        |d1 AS (SELECT * FROM merged WHERE doc_id % 10 <> 4),
        |b2 AS (
        |  SELECT doc_id, lang, 'EQ2: ' || text AS text
        |  FROM documents WHERE doc_id % 7 = 3),
        |final AS (
        |  SELECT * FROM d1 WHERE doc_id % 7 <> 3
        |  UNION ALL SELECT * FROM b2)
        |SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS text_len,
        |  substr(text, 1, 12) AS head
        |FROM final ORDER BY doc_id""".stripMargin)
}
