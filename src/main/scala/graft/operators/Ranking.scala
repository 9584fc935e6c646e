package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sinks.ManifestTable

/** Corpus relevance ranking — BM25 (Robertson/Sparck Jones) for a
  * bag-of-terms query, the standard lexical scorer for retrieval and
  * training-data quality mining (find documents most relevant to a
  * probe query; mine hard negatives next to positives).
  *
  * Scale shape: one explode feeds both the document-length aggregate
  * and the term-frequency aggregate; the tf side is FILTERED to the
  * query's terms before it ever shuffles, so its volume is
  * |docs containing a query term| regardless of corpus width. The
  * per-term document frequencies and the 1-row corpus stats broadcast;
  * the only corpus-sized shuffle is the doc-length join on doc_id.
  * Top-k plans as TakeOrdered (no global sort materialization).
  */
object Ranking {

  /** BM25 top-k: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), over documents
    * containing at least one query term. Scores round to 4 decimals;
    * ordering ties break on doc_id — fully deterministic and
    * reproducible in ANSI SQL (the DuckDB oracle runs the same
    * arithmetic). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               requireAllTerms: Boolean = false): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // exact-integer sum / count: avgdl is bit-identical across engines
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.filter(col("tok").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    scoreBm25(tf, dl, stats, k, k1, b, requireAllTerms, queryTerms)
  }

  /** The shared BM25 scoring tail — one arithmetic, two access paths
    * (corpus scan / persisted index), so the two gates can share one
    * oracle: identical op order means identical doubles. `tf` is
    * (doc_id, tok, tf) already filtered to the query's terms; df per
    * term re-derives from it (count of matched docs), as in the
    * corpus form. */
  private def scoreBm25(tf: DataFrame, dl: DataFrame, stats: DataFrame,
                        k: Int, k1: Double, b: Double,
                        requireAllTerms: Boolean = false,
                        queryTerms: Seq[String] = Nil): DataFrame = {
    // df ALWAYS derives from the unfiltered term matches (true per-term
    // document frequency) — the conjunctive restriction below must not
    // deflate idf
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // AND semantics: keep only docs matching EVERY query term — one
    // |candidates|-scale aggregate + a semi join, before scoring
    val scored =
      if (!requireAllTerms) tf
      else tf.join(
        tf.groupBy(col("doc_id")).agg(count(lit(1)).as("_nt"))
          .filter(col("_nt") === queryTerms.distinct.size)
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")
    scored
      .join(broadcast(dfT), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("s",
        col("idf") * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id")).agg(round(sum(col("s")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Build and commit a persisted INVERTED INDEX for the corpus as
    * two [[graft.sinks.ManifestTable]]s: `root/postings` holds
    * (tok, doc_id, tf) range-clustered and sorted by token — so a
    * query's term probe prunes whole files by the manifest's `tok`
    * envelopes and row groups by parquet min/max — and `root/doclen`
    * holds (doc_id, dl). Both are versioned (atomic commit, as-of
    * readable, CAS multi-writer safe). Build cost: one tokenize pass +
    * two aggregates, ~the cost of ONE corpus-scan query — after which
    * every query stops paying the tokenize. Fails if an index already
    * exists at `root`. Returns (postings version, doclen version). */
  def buildInvertedIndex(docs: DataFrame, idCol: String, textCol: String,
                         root: String, numFiles: Int = 16): (Long, Long) = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val postings = toks
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .repartitionByRange(numFiles, col("tok"))
      .sortWithinPartitions(col("tok"), col("doc_id"))
    val doclen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    (ManifestTable.create(postings, s"$root/postings", PostingsStats),
      ManifestTable.create(doclen, s"$root/doclen", Seq("doc_id")))
  }

  private val PostingsStats = Seq("tok", "doc_id")

  /** Fold a DOCUMENT BATCH into a committed inverted index without
    * rebuilding it: new docs insert their postings, re-landed doc ids
    * REPLACE theirs entirely ([[graft.sinks.ManifestTable.merge]] keyed
    * by doc_id, so tokens the new text no longer contains cannot
    * survive as stale postings). Cost ∝ the batch tokenize plus the
    * index files whose doc_id envelopes the batch touches — never the
    * corpus; this is how the index rides an ingest loop
    * ([[graft.sources.FileManifest]] delta → upsert) instead of paying
    * a full [[buildInvertedIndex]] per epoch. doclen/avgdl move with
    * the same batch, so BM25 scores through the updated index equal a
    * fresh full build's (spec + gate assert row-identity). Creates the
    * index when it is new. Returns (postings version, doclen
    * version). */
  def upsertIndexedDocs(docs: DataFrame, idCol: String, textCol: String,
                        root: String): (Long, Long) = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val postings = toks.groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .select(col("tok"), col("doc_id"), col("tf"))
    val doclen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val spark = docs.sparkSession
    def commit(df: DataFrame, sub: String, stats: Seq[String]): Long =
      if (!ManifestTable.exists(spark, s"$root/$sub"))
        ManifestTable.create(df, s"$root/$sub", stats)
      else ManifestTable.merge(df, s"$root/$sub", Seq("doc_id"))
    (commit(postings, "postings", PostingsStats),
      commit(doclen, "doclen", Seq("doc_id")))
  }

  /** One manifest-driven index-ingest tick — the retrieval twin of
    * [[graft.sinks.ManifestTable.adopt]]: discover doc files
    * newly landed under `landingDir` (via the committed
    * [[graft.sources.FileManifest]]), read ONLY those files, fold
    * their documents into the index with [[upsertIndexedDocs]], and
    * commit the manifest so a crashed tick re-offers the same files
    * (the upsert is doc_id-keyed, so the retry is idempotent). Cost ∝
    * newly landed data + the touched index files — the corpus under
    * `landingDir` is never rescanned. Returns the number of files
    * ingested (0 = clean no-op tick). Run [[optimizeIndex]] on the
    * same cadence as compaction to keep the postings token-clustered. */
  def indexIngestTick(spark: org.apache.spark.sql.SparkSession,
                      landingDir: String, manifestPath: String, root: String,
                      idCol: String, textCol: String): Int = {
    val nf = graft.sources.FileManifest.newFiles(spark, landingDir, manifestPath)
    val files = nf.select(col("path")).collect().map(_.getString(0)).toSeq
    if (files.nonEmpty) {
      upsertIndexedDocs(spark.read.parquet(files: _*), idCol, textCol, root)
      graft.sources.FileManifest.commit(spark, manifestPath, nf)
    }
    files.size
  }

  /** Re-cluster the postings by token. Delta merges keep the index
    * CORRECT but land each batch's postings in new files whose `tok`
    * envelopes span the vocabulary, eroding the token-clustered layout
    * the term probe prunes against — the small-file/clustering decay
    * every log-structured index has. One index-sized
    * [[graft.sinks.ManifestTable.optimize]] restores it; run it on the
    * maintenance tick, amortized across many delta merges. Returns the
    * committed postings version. */
  def optimizeIndex(spark: org.apache.spark.sql.SparkSession, root: String,
                    numFiles: Int = 16): Long =
    ManifestTable.optimize(spark, s"$root/postings",
      sortCols = Seq("tok", "doc_id"), numFiles = numFiles)

  /** BM25 top-k THROUGH the persisted index — row-identical to
    * [[bm25TopK]] on the same corpus (same scoring tail, same op
    * order), but the per-query cost is ∝ the MATCHED postings plus a
    * doc-length aggregate: no tokenize, no text scan, and the term
    * probe reaches the postings files as a pushed parquet filter over
    * a token-clustered layout. This is the retrieval shape that
    * survives a 100 TB corpus — the corpus-sized work happens once at
    * build time. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, root: String,
                      queryTerms: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75,
                      requireAllTerms: Boolean = false): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKIndexed needs at least one query term")
    val postings = ManifestTable.read(spark, s"$root/postings")
    val dl = ManifestTable.read(spark, s"$root/doclen")
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = postings.filter(col("tok").isInCollection(queryTerms))
      .select(col("doc_id"), col("tok"), col("tf"))
    scoreBm25(tf, dl, stats, k, k1, b, requireAllTerms, queryTerms)
  }

  /** Top-k frequent items via the space-saving sketch
    * ([[graft.functions.TopKFreq]]): one pass, one aggregation whose
    * shuffle moves at most `capacity` counters per partition — the
    * hot-token / hot-key detector that works when the distinct-item
    * space is too large for a full (item, count) aggregation. With
    * capacity ≥ distinct items the counts are exact and `err` = 0
    * (the oracle-gated mode); otherwise each count carries its
    * overestimate bound and total error ≤ n/capacity. Output:
    * (item, n, err) ordered (n desc, item asc). */
  def heavyHitters(items: DataFrame, itemCol: String, k: Int,
                   capacity: Int): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(items.sparkSession)
    items
      .agg(graft.functions.VectorExpressions
        .topkFreq(col(itemCol), k, capacity).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"), col("e.cnt").as("n"),
        col("e.err").as("err"))
  }
}
