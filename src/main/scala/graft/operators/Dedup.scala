package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for training-data pipelines.
  *
  * Every operator is candidate-generation + verification — the only shape
  * that survives 100 TB: no O(n²) pass ever touches the full corpus; the
  * quadratic step runs only on blocked/bucketed candidates.
  *
  *  - exact: hash-groupBy on a canonical fingerprint (one shuffle).
  *  - n-gram Jaccard: df-ordered prefix-filtered inverted-index join
  *    (AllPairs/PPJoin) — hot shingles never generate candidates;
  *    per-candidate array-intersect verification.
  *  - MinHash+LSH: k minhashes from one shingle scan (k aggs, one
  *    shuffle), banded signatures, equi-join on (band, signature) for
  *    candidates, exact-Jaccard verification on candidates only.
  *  - SimHash: 32-bit signature via 32 partial-sum aggs (one shuffle),
  *    byte-block equi-join (pigeonhole: hamming ≤ 3 ⇒ one of 4 bytes
  *    equal) so candidate pairs are found without a cross join.
  *  - embedding cosine: exact pair scoring over an optional blocking
  *    key; order-stable fold for float determinism.
  *
  * All arithmetic is integer/md5-based and reproducible in ANSI SQL —
  * see queries.LlmOps for the DuckDB oracles.
  */
object Dedup {

  /** First 8 md5 hex digits of a string column as a non-negative int64
    * (the deterministic cross-engine "hash function" used everywhere). */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Word-bigram shingles over an already-materialized token array. */
  def shinglesFromTokens(w: Column): Column =
    when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
      .otherwise(array())

  /** Word-bigram shingles of a whitespace-tokenized text column. */
  def shingles2(text: Column): Column = shinglesFromTokens(split(text, " "))

  /** (doc_id, shingle-key) distinct pairs with the shingle hashed to a
    * 64-bit key BEFORE the distinct — every downstream shuffle (distinct,
    * document-frequency count, inverted-index join) then moves 8-byte
    * longs instead of strings, ~2× cheaper end to end. Set arithmetic on
    * hashed keys equals string-shingle arithmetic unless two distinct
    * shingles collide in 64 bits: P ≈ n²/2⁶⁵, ~10⁻⁶ even at 10⁹ distinct
    * shingles — immaterial against a similarity threshold. */
  def hashedShingleSet(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    hashedShingleSetFromWords(
      Scale.spreadSmallScan(docs, idCol)
        .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w")))

  /** [[hashedShingleSet]] over an already-split `(doc_id, w)` frame —
    * lets composed pipelines share one split scan across signals. */
  private[graft] def hashedShingleSetFromWords(ws: DataFrame): DataFrame =
    ws.select(col("doc_id"), explode(shinglesFromTokens(col("w"))).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
      .distinct()

  /** Shared MinHash-family shingle scan: ONE explode with BOTH hashes —
    * the md5-derived 32-bit minhash input `x` (cross-engine, oracle
    * re-derivable) and the 64-bit verification key `k` — computed per
    * shingle BEFORE the distinct. The dedup shuffle then moves fixed
    * 24-byte rows instead of strings, and no downstream stage (signature
    * aggregation, verify-set build) ever touches a string again. Distinct
    * over (doc_id, x, k) equals distinct over the string shingle unless
    * two distinct shingles collide in BOTH hashes simultaneously —
    * P ≈ n²/2⁹⁷ per doc, immaterial. */
  def minhashShingleScan(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Scale.spreadSmallScan(docs, idCol)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .select(col("doc_id"), explode(shinglesFromTokens(col("w"))).as("s"))
      .select(col("doc_id"), hash32(col("s")).as("x"), xxhash64(col("s")).as("k"))
      .distinct()

  /** Keep only docs with ≤ cap distinct shingle rows — the row-size
    * guard for the collect_list verify stage: a pathological multi-MB
    * document would otherwise materialize one fat array row. Capped docs
    * are EXCLUDED from the operator (near-dup detection on extreme
    * documents belongs to a chunking strategy, not a fatter row); with
    * `None` (the default, and what the gated queries use) semantics are
    * untouched and this is a no-op. */
  private def capDocs(sh: DataFrame, maxShinglesPerDoc: Option[Int]): DataFrame =
    maxShinglesPerDoc match {
      case None => sh
      case Some(cap) =>
        val ok = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n0"))
          .filter(col("n0") <= cap).select(col("doc_id"))
        sh.join(ok, Seq("doc_id"))
    }

  /** Exact duplicate groups by canonical fingerprint (sorted distinct
    * token set). Returns one row per group with ≥2 members. */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_dups"))
      .filter(col("n_dups") >= 2)

  /** Canonical-fingerprint projection shared by the cross-corpus exact
    * dedup paths: (doc_id, fp). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.TextAnalysis.fingerprint(col(textCol)).as("fp"))

  /** Bloom runtime filter over a corpus fingerprint set: ONE row with
    * the serialized filter ([[graft.functions.BloomBuildAgg]]) — build
    * once per corpus epoch, persist beside the other index artifacts,
    * broadcast per batch. numBits sizing: ~10 bits/doc ≈ 1% false
    * positives at numHashes=5 (2^30 bits = 128 MB covers ~10^8 docs). */
  def fingerprintBloom(corpusFps: DataFrame, numBits: Int,
                       numHashes: Int): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(corpusFps.sparkSession)
    corpusFps.agg(graft.functions.VectorExpressions
      .bloomBuild(xxhash64(col("fp")), numBits, numHashes).as("bloom"))
  }

  /** Incremental EXACT dedup of a batch against a stored corpus —
    * batch docs whose canonical fingerprint already exists in the
    * corpus, as (doc_id, dup_of = smallest matching corpus doc).
    *
    * Scale shape (the runtime-filter pattern): the corpus never joins
    * the raw batch. The Bloom filter prunes the batch to
    * ~true-dups + fpp·|batch| rows INSIDE the scan's whole-stage
    * codegen (a 1-row broadcast, no exchange), and only the pruned
    * candidate set shuffles against the corpus fingerprints for exact
    * confirmation — which removes Bloom false positives AND xxhash64
    * collisions, because the join key is the full fingerprint. No
    * false negatives exist by construction, so the output equals the
    * plain fingerprint join (OperatorsSpec asserts equality; the
    * driver gate shares the exact oracle). */
  def exactCrossDups(newDocs: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String,
                     numBits: Int = 1 << 20,
                     numHashes: Int = 5): DataFrame = {
    val nf = fingerprints(newDocs, idCol, textCol)
    val cf = fingerprints(corpus, idCol, textCol)
    val bloom = fingerprintBloom(cf, numBits, numHashes)
    val cand = nf.crossJoin(broadcast(bloom))
      .filter(graft.functions.VectorExpressions
        .bloomMightContain(col("bloom"), xxhash64(col("fp"))))
      .select(col("doc_id"), col("fp"))
    cand
      .join(cf.select(col("fp"), col("doc_id").as("corpus_doc_id")), Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(min(col("corpus_doc_id")).as("dup_of"))
  }

  /** Exact n-gram Jaccard similarity pairs ≥ threshold, via a
    * df-ordered PREFIX-FILTERED inverted-index self-join (AllPairs /
    * PPJoin candidate generation, Bayardo et al. WWW'07) + exact
    * verification:
    *
    *  1. Drop df=1 shingles (they can never be in an intersection), then
    *     rank each doc's remaining shingles in the global (df asc, key
    *     asc) total order; the doc's PREFIX is its first
    *     n − ⌈t·n⌉ + 1 shingles (n = FULL set size). For any pair with
    *     J ≥ t, the smallest common shingle provably falls in BOTH
    *     prefixes (else the intersection fits inside a suffix of size
    *     ⌈t·n⌉ − 1 < t·n ≤ |a∩b|); ranking after the df=1 drop only
    *     promotes shared shingles INTO prefixes, so no pair is lost.
    *  2. The ordering puts RARE shingles in prefixes: hot shingles
    *     (stop-word bigrams — the quadratic-blowup keys) sit in
    *     suffixes and never generate candidates, which both shrinks the
    *     join input ~(1−t)× and removes the skewed reducer.
    *  3. Candidates also pass PPJoin's length filter
    *     (t·max(n_a,n_b) ≤ min(n_a,n_b)) and a PAIR-LEVEL positional
    *     filter that is strictly tighter than the classic per-collision
    *     `1 + min(remaining)` check: both docs order their shingles by
    *     the same global (df, key) total order, so every common shingle
    *     ranked BEFORE the pair's last collision lies in both prefixes
    *     and is therefore itself a collision — giving the lossless
    *     upper bound overlap ≤ k + min(n_a − ra_max, n_b − rb_max)
    *     (k = collision count, ra_max/rb_max = last collision's ranks),
    *     which must reach α = ⌈t/(1+t)·(n_a+n_b)⌉. For k = 1 this
    *     equals the classic check; for k ≥ 2 it dominates it
    *     (ra_max ≥ ra_min + k − 1 along each side), and it stays
    *     lossless under the df cap too (hot common tokens are counted
    *     inside both n − r_max remainders, never inside k).
    *  4. Exact verification intersects the two docs' FULL shingle-key
    *     arrays — ONE row per candidate pair (no per-candidate
    *     explode-join) — so results are identical to the naive
    *     all-co-occurring-pairs plan (the DuckDB oracle).
    *
    * The prefix length uses t − 0.5e-4 so pairs that only reach t after
    * the 4-decimal output rounding are still generated.
    *
    * `maxDf` is the ESCAPE HATCH for adversarial vocabularies (tiny
    * shingle space ⇒ every key is hot and prefix filtering can't prune):
    * shingles with document frequency > maxDf are excluded from candidate
    * generation. Verification stays exact, so precision is unaffected
    * and the output is a SUBSET of the exact result with a precisely
    * defined contract: a pair is emitted iff J ≥ threshold AND the docs
    * share at least one shingle with 2 ≤ df ≤ maxDf. To keep that
    * contract engine-independent (and thus oracle-checkable), the capped
    * path disables the PREFIX cut — the prefix choice depends on the
    * rank order of equal-df shingles (a tie-break on the internal 64-bit
    * key), and under a df cap the prefix argument is no longer lossless
    * w.r.t. the contract (a pair whose capped overlap ranks late but
    * whose hot overlap is large could be prefix-missed). The df cap
    * itself is the pruning mechanism: it removes exactly the hot keys
    * that cause the candidate blowup AND the skewed reducer; the length
    * and positional filters (both implied by J ≥ t, so lossless) still
    * apply. Both gated queries run in the correctness gate —
    * `q_dedup_jaccard` (exact) and `q_dedup_jaccard_capped` (this path).
    * Default None keeps the operator exact.
    *
    * `maxShinglesPerDoc` bounds the verify-stage row size — see
    * [[capDocs]]. Candidate-pair counts are published as the observed
    * metric `jaccard_candidates` (visible in the bench artifact) so
    * pruning efficacy is measurable per corpus. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, maxDf: Option[Long] = None,
                   maxShinglesPerDoc: Option[Int] = None): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(docs.sparkSession)
    val sh = capDocs(hashedShingleSet(docs, idCol, textCol), maxShinglesPerDoc)
      .cache()
    val tRelaxed = threshold - 0.00005
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val dfs = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && maxDf.map(col("df") <= _).getOrElse(lit(true)))
    val wDoc = Window.partitionBy(col("doc_id"))
    val ranked = sh.join(dfs, Seq("sh"))
      .withColumn("r", row_number().over(
        wDoc.orderBy(col("df").asc, col("sh").asc)))
      .join(sizes, Seq("doc_id"))
    // cached: both sides of the self-join read it (the window sort and
    // df join would otherwise run twice); tiny — ~(1−t)·|shingle set|
    // exact mode. Capped mode keeps ALL df-capped shingles (no prefix
    // cut — see the contract note above); the df cap has already removed
    // the hot keys, so the index is small and skew-free anyway.
    val prefix = ranked
      .filter(if (maxDf.isEmpty)
          col("r") <= col("n_sh") - ceil(lit(tRelaxed) * col("n_sh")) + 1
        else lit(true))
      .select(col("doc_id"), col("sh"), col("r"), col("n_sh"))
      .cache()
    val pa = prefix.select(col("doc_id").as("doc_a"), col("sh"),
      col("r").as("ra"), col("n_sh").as("n_a"))
    val pb = prefix.select(col("doc_id").as("doc_b"), col("sh"),
      col("r").as("rb"), col("n_sh").as("n_b"))
    val minOverlap =
      ceil(lit(tRelaxed / (1 + tRelaxed)) * (col("n_a") + col("n_b")))
    val cand = pa.join(pb, Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(lit(tRelaxed) * greatest(col("n_a"), col("n_b")) <=
        least(col("n_a"), col("n_b")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        count(lit(1)).as("k"),
        max(col("ra")).as("ra_max"), max(col("rb")).as("rb_max"))
      // pair-level positional filter (see step 3 above): collisions are
      // ALL the common shingles up to the last collision, so the true
      // overlap cannot exceed k + min(remaining after it) — evaluated
      // once per pair on the aggregate side (map-side partials still
      // combine), and every pruned pair skips the verify join entirely
      .filter(col("k") +
        least(col("n_a") - col("ra_max"), col("n_b") - col("rb_max")) >=
        minOverlap)
      .drop("k", "ra_max", "rb_max")
      // candidate-pair count rides the normal execution (no extra job);
      // Bench scrapes it into the artifact via OpMetrics. Distinct name
      // per mode so the exact and capped gated queries are separately
      // visible in the same artifact. Counted with a distinct-sketch,
      // not count(1): a downstream orderBy's range-partitioner SAMPLING
      // pass re-executes this stage when AQE broadcasts the verify
      // joins, and a plain count accumulator then reports exactly 2× —
      // a sketch is idempotent under re-insertion, so the reported
      // value is execution-count-invariant (±0.5% rsd).
      .observe(if (maxDf.isEmpty) "jaccard_candidates"
               else "jaccard_capped_candidates",
        approx_count_distinct(xxhash64(col("doc_a"), col("doc_b")), 0.005)
          .as("n_pairs"))
    // exact verification over full shingle-key sets, one row per
    // candidate. Arrays are sorted ONCE per doc so the per-pair
    // intersection is a primitive codegen merge walk
    // (sorted_intersect_count) instead of a per-pair hash-set build —
    // the candidate count is near-quadratic on adversarial corpora, so
    // this is the hottest loop in the operator.
    val sets = sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("sh"))).as("shs"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")),
        Seq("doc_b"))
      .withColumn("n_common",
        graft.functions.VectorExpressions.sortedIntersectCount(
          col("shs_a"), col("shs_b")))
      .withColumn("jaccard",
        graft.functions.TextAnalysis.round4Stable(
          col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash parameters — 16 universal-hash functions
    * h_i(x) = (a_i·x + b_i) mod P over the 32-bit shingle hash. */
  val MinhashP: Long = 2038074743L
  val MinhashA: Seq[Long] = (1 to 16).map(i => 2L * i + 1)
  val MinhashB: Seq[Long] = (1 to 16).map(i => 7919L * i)
  /** 8 bands × 2 rows. */
  val Bands = 8

  /** The 16 per-doc minhash min-aggregates (shared by the symmetric
    * signature build and the persisted-index build). */
  private def minhashMinAggs: Seq[Column] =
    MinhashA.zip(MinhashB).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("x") + lit(b)) % lit(MinhashP)).as(s"m${i + 1}")
    }

  /** Per-doc 16-value MinHash signature over a [[minhashShingleScan]]
    * (one scan, 16 min-aggregates sharing the pre-computed `x`; min over
    * hashed values is idempotent to any 32-bit `x` collision, so this
    * equals the per-distinct-string-shingle signature). */
  def minhashSignatures(scan: DataFrame): DataFrame = {
    val mins = minhashMinAggs
    scan.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Banded LSH rows: (doc_id, band, s1, s2, ms) with (s1, s2) the
    * band's RAW minhash values and ms = the doc's full 16-component
    * signature carried along (16 longs ≈ 128 B/row) so the downstream
    * candidate pre-filter needs NO second join back to the signature
    * table — the scale-critical property: nothing about the corpus is
    * ever broadcast. The band join keys on the raw values directly:
    * equality of (s1, s2) is exactly equality of the md5 band digest
    * the oracle compares (the digest adds hashing work and 32-char
    * shuffle keys without changing the matched pairs). */
  def lshBands(sigs: DataFrame): DataFrame = {
    val bandPairs = (1 to Bands).map { j =>
      struct(col(s"m${2 * j - 1}").as("s1"), col(s"m${2 * j}").as("s2"))
    }
    val ms = array((1 to 16).map(i => col(s"m$i")): _*)
    sigs.select(col("doc_id"), ms.as("ms"),
        posexplode(array(bandPairs: _*)).as(Seq("band", "sig")))
      .select(col("doc_id"), col("band"),
        col("sig.s1").as("s1"), col("sig.s2").as("s2"), col("ms"))
  }

  /** Signature-estimate pre-filter: keep candidate pairs whose
    * signatures agree on ≥ this many of the 16 minhash components
    * (E[matches] = 16·J, so 4 ≈ J ≥ 0.25 — far below the verify
    * threshold, dropping ~99% of band-collision noise while the exact
    * verify still decides membership). Deterministic, replicated in the
    * oracle, so it is part of the operator's defined semantics. */
  val MinSigMatches = 4

  /** Signature-agreement count between two carried 16-component
    * signature arrays (see [[MinSigMatches]]). */
  private def sigAgreement(msA: Column, msB: Column): Column =
    aggregate(
      zip_with(msA, msB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)

  /** Per-doc sorted 64-bit key arrays + set sizes from a
    * [[minhashShingleScan]] — the verify-stage build side. */
  private def sortedKeySets(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("k"))).as("shs"),
        count(lit(1)).as("n_sh"))

  /** [[sortedKeySets]] restricted to the docs that actually appear in a
    * candidate id column — the verify build side should be CANDIDATE-
    * bounded, not corpus-bounded: at scale the LSH candidate set touches
    * a tiny fraction of documents, and building (sorting, materializing)
    * a key array for every other document is pure waste. The semi-join
    * keys by doc_id — the same key as the groupBy — so the planner
    * reuses the partitioning and the restriction adds no extra shuffle
    * of the scan. */
  private def sortedKeySetsFor(sh: DataFrame, candIds: DataFrame): DataFrame =
    sortedKeySets(sh.join(candIds.distinct(), Seq("doc_id"), "left_semi"))

  /** Exact-Jaccard verification shared by the MinHash variants: join the
    * candidate pairs to the two sides' sorted key sets, count DISTINCT
    * common keys with the codegen merge walk, keep pairs at or above
    * `threshold`. One row per candidate; the 4-decimal rounding is part
    * of the cross-engine output contract. */
  private def verifyBySortedSets(cand: DataFrame, setsA: DataFrame,
                                 setsB: DataFrame, aCol: String, bCol: String,
                                 threshold: Double): DataFrame =
    cand
      .join(setsA.select(col("doc_id").as(aCol), col("shs").as("shs_a"),
        col("n_sh").as("n_a")), Seq(aCol))
      .join(setsB.select(col("doc_id").as(bCol), col("shs").as("shs_b"),
        col("n_sh").as("n_b")), Seq(bCol))
      .withColumn("n_common",
        graft.functions.VectorExpressions.sortedIntersectCount(
          col("shs_a"), col("shs_b")))
      .withColumn("jaccard",
        graft.functions.TextAnalysis.round4Stable(
          col("n_common").cast("double") /
            (col("n_a") + col("n_b") - col("n_common"))))
      .filter(col("jaccard") >= threshold)
      .select(col(aCol), col(bCol), col("jaccard"))

  /** MinHash-LSH near-duplicate pairs: candidates share ≥1 LSH band,
    * survive the signature-estimate pre-filter, and are then verified
    * with exact Jaccard ≥ threshold. One [[minhashShingleScan]] feeds
    * BOTH the signature aggregation (via `x`) and the verify-set build
    * (via `k`) — strings are tokenized, hashed, and discarded in a
    * single pass; every later stage moves only longs.
    * `maxShinglesPerDoc`: verify-stage row-size guard, see [[capDocs]].
    * Candidate counts are observed as `minhash_candidates`. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double,
                      maxShinglesPerDoc: Option[Int] = None): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(docs.sparkSession)
    val sh = capDocs(minhashShingleScan(docs, idCol, textCol),
      maxShinglesPerDoc).cache()
    val sigs = minhashSignatures(sh)
    val bands = lshBands(sigs)
    // Band collision join with the signature-estimate pre-filter applied
    // IN the join output: lshBands carries each doc's 16-component
    // signature, so agreement is computed from the collision row itself —
    // no join back to (let alone broadcast of) the |corpus|-sized
    // signature table. The filter depends only on the pair, so distinct
    // after filtering yields the same candidate set.
    val estMatches = sigAgreement(col("ms_a"), col("ms_b"))
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"),
        col("s1"), col("s2"), col("ms").as("ms_a"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"),
        col("s1"), col("s2"), col("ms").as("ms_b")), Seq("band", "s1", "s2"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(estMatches >= MinSigMatches)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
      // distinct-sketch, not count(1) — see the jaccard observe note
      .observe("minhash_candidates",
        approx_count_distinct(xxhash64(col("doc_a"), col("doc_b")), 0.005)
          .as("n_pairs"))
    // verification: exact Jaccard on candidates only — one row per
    // candidate pair, intersecting the docs' 64-bit key arrays straight
    // from the cached scan (no string re-hash). Arrays sort once per
    // doc; the per-pair merge walk counts DISTINCT common keys, so a
    // k-only collision cannot inflate the overlap (same set semantics
    // as array_intersect, without the per-pair hash-set build).
    //
    // The build side is deliberately CORPUS-wide, unlike
    // [[minhashLshPairsAcross]]'s candidate-bounded build: symmetric
    // all-pairs candidates cover most documents on dup-dense corpora
    // (118k pairs over 5k docs at sf0.1), and restricting to candidate
    // ids would embed the band-join pipeline inside BOTH build branches
    // (no cross-branch CSE) — measured 3-4x slower than one shared
    // groupBy over the cached scan. The two `sets` references below are
    // byte-identical subtrees, so the aggregation exchange computes once
    // and is reused.
    val sets = sortedKeySets(sh)
    verifyBySortedSets(cand, sets, sets, "doc_a", "doc_b", threshold)
  }

  /** Incremental MinHash-LSH dedup: near-duplicate pairs BETWEEN a new
    * document batch and an existing corpus — the check an append-only
    * pipeline runs on every ingest (is this incoming doc a near-dup of
    * anything already stored?). Same candidate machinery as
    * [[minhashLshPairs]] (band collision → signature pre-filter → exact
    * Jaccard verify), but the band join is new × corpus, so its cost is
    * proportional to the BATCH, not the corpus pair space; the corpus
    * side is one signature scan that a real deployment would persist
    * once and re-read per batch. Nothing corpus-sized broadcasts.
    *
    * Output: (new_id, corpus_id, jaccard), one row per qualifying pair. */
  def minhashLshPairsAcross(newDocs: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String, threshold: Double,
                            maxShinglesPerDoc: Option[Int] = None): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(newDocs.sparkSession)
    val shN = capDocs(minhashShingleScan(newDocs, idCol, textCol),
      maxShinglesPerDoc).cache()
    val shC = capDocs(minhashShingleScan(corpus, idCol, textCol),
      maxShinglesPerDoc).cache()
    val cand = acrossCandidates(lshBands(minhashSignatures(shN)),
      lshBands(minhashSignatures(shC))).cache()
    // candidate-bounded verify builds — on the CORPUS side especially,
    // only the handful of stored docs that collide with the batch ever
    // materialize a sorted key array
    verifyBySortedSets(cand,
      sortedKeySetsFor(shN, cand.select(col("new_id").as("doc_id"))),
      sortedKeySetsFor(shC, cand.select(col("corpus_id").as("doc_id"))),
      "new_id", "corpus_id", threshold)
  }

  /** new × corpus band-collision candidates with the signature-estimate
    * pre-filter applied in the join output (shared by the rescan and
    * persisted-index variants of the incremental dedup). */
  private def acrossCandidates(bandsN: DataFrame, bandsC: DataFrame): DataFrame =
    bandsN.select(col("doc_id").as("new_id"), col("band"),
        col("s1"), col("s2"), col("ms").as("ms_a"))
      .join(bandsC.select(col("doc_id").as("corpus_id"), col("band"),
        col("s1"), col("s2"), col("ms").as("ms_b")), Seq("band", "s1", "s2"))
      .filter(sigAgreement(col("ms_a"), col("ms_b")) >= MinSigMatches)
      .select(col("new_id"), col("corpus_id"))
      .distinct()

  /** The persisted corpus-side MinHash index: one row per document with
    * everything [[minhashLshPairsAcross]] derives from the stored corpus —
    * the 16-component signature (band keys) AND the sorted 64-bit
    * verification key set with its size. Built with ONE groupBy over the
    * shared shingle scan; column-for-column identical to what the rescan
    * path computes, so index-vs-rescan results are bit-equal.
    *
    * This is the missing half of the incremental-dedup contract: the
    * corpus is tokenized ONCE when the index is (re)built, and every
    * subsequent batch run reads ~40 B/doc of longs (plus the key array
    * column only for verify) instead of re-shingling 100 TB of text. The
    * reference persists every inter-stage intermediate the same way
    * (`src/cli/index.ts:67-69` raw → canon → derive). */
  def buildMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        maxShinglesPerDoc: Option[Int] = None): DataFrame = {
    val sh = capDocs(minhashShingleScan(corpus, idCol, textCol),
      maxShinglesPerDoc)
    val aggs = minhashMinAggs ++ Seq(
      sort_array(collect_list(col("k"))).as("shs"),
      count(lit(1)).as("n_sh"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Fingerprint of every constant the persisted index's bit-equality
    * contract depends on: the minhash hash family, the banding layout,
    * the signature pre-filter, and a format version to bump on any
    * change to the shingle/hash pipeline itself
    * ([[minhashShingleScan]]) that the constant VALUES cannot capture.
    * Stored in the index's `_graft_build_params` sidecar and re-checked
    * on load, so an index built under different constants fails fast
    * instead of silently breaking index-vs-rescan equality. */
  val MinhashIndexFormatVersion = 1
  private def minhashConstantsFingerprint: String = {
    val canon = s"v$MinhashIndexFormatVersion|P=$MinhashP" +
      s"|A=${MinhashA.mkString(",")}|B=${MinhashB.mkString(",")}" +
      s"|bands=$Bands|minsig=$MinSigMatches"
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Write a [[buildMinhashIndex]] result as parquet, plus a one-row
    * `_graft_build_params` sidecar (underscore prefix — parquet readers
    * of the index dir skip it) recording the constants fingerprint and
    * the `maxShinglesPerDoc` cap, which [[loadMinhashIndex]] validates.
    *
    * Overwrite is parquet delete-then-write, NOT atomic: a rebuild must
    * not race concurrent readers of the same path. For an always-readable
    * index use [[saveMinhashIndexVersioned]], which commits each rebuild
    * as one manifest-table version. */
  def saveMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                       path: String,
                       maxShinglesPerDoc: Option[Int] = None): Unit = {
    buildMinhashIndex(corpus, idCol, textCol, maxShinglesPerDoc)
      .write.mode("overwrite").parquet(path)
    writeBuildParams(corpus.sparkSession, path, maxShinglesPerDoc)
  }

  /** One-row `_graft_build_params` sidecar under `dir`. */
  private def writeBuildParams(spark: org.apache.spark.sql.SparkSession,
                               dir: String,
                               maxShinglesPerDoc: Option[Int]): Unit = {
    import spark.implicits._
    Seq((minhashConstantsFingerprint,
        maxShinglesPerDoc.map(_.toLong).getOrElse(-1L)))
      .toDF("constants_fp", "max_shingles")
      .coalesce(1).write.mode("overwrite")
      .parquet(dir + "/_graft_build_params")
  }

  /** Read a [[saveMinhashIndex]] index, validating its build-params
    * sidecar: the minhash-constants fingerprint must match this build's,
    * and the stored `maxShinglesPerDoc` must equal the cap the caller
    * intends to use (pass the SAME value here as to
    * [[minhashLshPairsAcrossIndexed]]). A mismatch means index-vs-rescan
    * bit-equality no longer holds — the index must be rebuilt — so this
    * throws instead of returning silently-wrong pairs. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       maxShinglesPerDoc: Option[Int] = None): DataFrame = {
    val params = spark.read.parquet(path + "/_graft_build_params")
      .select(col("constants_fp"), col("max_shingles")).collect()
    require(params.length == 1,
      s"minhash index at $path: expected exactly one build-params row, " +
        s"got ${params.length}")
    checkBuildParams(path, params(0).getString(0), params(0).getLong(1),
      maxShinglesPerDoc)
    spark.read.parquet(path)
  }

  /** The build-params check [[loadMinhashIndex]] and
    * [[loadMinhashIndexVersioned]] share. */
  private def checkBuildParams(path: String, fp: String, storedCap: Long,
                               maxShinglesPerDoc: Option[Int]): Unit = {
    val expectCap = maxShinglesPerDoc.map(_.toLong).getOrElse(-1L)
    if (fp != minhashConstantsFingerprint)
      throw new IllegalStateException(
        s"minhash index at $path was built under different minhash " +
          "constants (fingerprint mismatch) — rebuild the index with " +
          "saveMinhashIndex before using it")
    if (storedCap != expectCap)
      throw new IllegalStateException(
        s"minhash index at $path was built with maxShinglesPerDoc=" +
          s"${if (storedCap < 0) "None" else storedCap} but the caller " +
          s"expects ${if (expectCap < 0) "None" else expectCap} — " +
          "index-vs-rescan equality requires identical caps; rebuild " +
          "the index or match the cap")
  }

  /** Append a delta batch to a persisted MinHash index WITHOUT
    * re-shingling the stored corpus — the index-maintenance half of the
    * incremental story (ingest batch → dedup against index → merge the
    * kept docs in). Per-document index rows are self-contained, so the
    * merged index is a row union: the old index minus any re-ingested
    * ids (delta wins — the A11 last-write convention) plus the delta's
    * freshly built rows; bit-equal to rebuilding from scratch over
    * old ∪ delta (OperatorsSpec). Cost ∝ delta + one pruned scan of the
    * old index — never the corpus text.
    *
    * Writes to `newPath` (epoch-flip, per [[saveMinhashIndex]]'s
    * non-atomicity note) with a fresh params sidecar; the old sidecar
    * is validated first so epochs can't silently mix constants. */
  def mergeMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                        oldPath: String, delta: DataFrame,
                        idCol: String, textCol: String, newPath: String,
                        maxShinglesPerDoc: Option[Int] = None): Unit = {
    require(newPath != oldPath,
      "mergeMinhashIndex must write a new epoch directory (overwrite of " +
        "a live index path is not atomic)")
    val old = loadMinhashIndex(spark, oldPath, maxShinglesPerDoc)
    mergedIndexRows(old, delta, idCol, textCol, maxShinglesPerDoc)
      .write.mode("overwrite").parquet(newPath)
    writeBuildParams(spark, newPath, maxShinglesPerDoc)
  }

  /** Row union of an existing index with a delta batch: old minus any
    * re-ingested ids (delta wins — the A11 last-write convention) plus
    * the delta's freshly built rows. */
  private def mergedIndexRows(old: DataFrame, delta: DataFrame,
                              idCol: String, textCol: String,
                              maxShinglesPerDoc: Option[Int]): DataFrame =
    old.join(delta.select(col(idCol).as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .unionByName(buildMinhashIndex(delta, idCol, textCol, maxShinglesPerDoc))

  /** Always-readable persisted index: [[saveMinhashIndex]] as a
    * [[graft.sinks.ManifestTable.save]] version — each rebuild commits
    * a new version whose schema carries the build params (field
    * metadata of `doc_id`, committed with the version), so a reader
    * holding the previous version keeps scanning immutable files
    * through any rebuild. This is the seam [[saveMinhashIndex]]'s
    * doc-comment prescribes; returns the committed version. */
  def saveMinhashIndexVersioned(corpus: DataFrame, idCol: String,
                                textCol: String, root: String,
                                maxShinglesPerDoc: Option[Int] = None): Long =
    graft.sinks.ManifestTable.save(withBuildParams(
      buildMinhashIndex(corpus, idCol, textCol, maxShinglesPerDoc),
      maxShinglesPerDoc), root)

  private val FpKey = "graft.minhash.constants_fp"
  private val CapKey = "graft.minhash.max_shingles"

  /** `index` with the build params as `doc_id`'s field metadata. */
  private def withBuildParams(index: DataFrame,
                              maxShinglesPerDoc: Option[Int]): DataFrame =
    index.withMetadata("doc_id",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString(FpKey, minhashConstantsFingerprint)
        .putLong(CapKey, maxShinglesPerDoc.map(_.toLong).getOrElse(-1L))
        .build())

  /** The current version of a [[saveMinhashIndexVersioned]] root, with
    * [[loadMinhashIndex]]'s build-params fail-fast against the params
    * its schema carries. */
  def loadMinhashIndexVersioned(spark: org.apache.spark.sql.SparkSession,
                                root: String,
                                maxShinglesPerDoc: Option[Int] = None): DataFrame = {
    val v = graft.sinks.ManifestTable.latestVersion(spark, root)
    require(v >= 0, s"versioned minhash index at $root has no committed version")
    val p = graft.sinks.ManifestTable.tableSchema(spark, root, v)("doc_id")
      .metadata
    require(p.contains(FpKey) && p.contains(CapKey),
      s"minhash index at $root (version $v) carries no build params")
    checkBuildParams(s"$root (version $v)", p.getString(FpKey),
      p.getLong(CapKey), maxShinglesPerDoc)
    graft.sinks.ManifestTable.readVersion(spark, root, v)
  }

  /** [[mergeMinhashIndex]] as a new version of a versioned root: read the
    * current version, union with the delta's rows, commit. Readers of
    * the old version are undisturbed; cost ∝ delta + one pruned scan of
    * the old version. Returns the committed version. */
  def mergeMinhashIndexVersioned(spark: org.apache.spark.sql.SparkSession,
                                 root: String, delta: DataFrame,
                                 idCol: String, textCol: String,
                                 maxShinglesPerDoc: Option[Int] = None): Long = {
    val old = loadMinhashIndexVersioned(spark, root, maxShinglesPerDoc)
    graft.sinks.ManifestTable.save(withBuildParams(
      mergedIndexRows(old, delta, idCol, textCol, maxShinglesPerDoc),
      maxShinglesPerDoc), root)
  }

  /** [[minhashLshPairsAcross]] against a persisted corpus index instead
    * of re-scanning the stored corpus: the band join reads only the
    * signature columns of the index (parquet column pruning keeps the fat
    * `shs` array out of the scan), and the verify stage re-reads the
    * index semi-joined to the candidate ids, so the key arrays of
    * non-colliding corpus docs are never deserialized into rows. The
    * batch side is identical to the rescan variant. */
  def minhashLshPairsAcrossIndexed(newDocs: DataFrame, index: DataFrame,
                                   idCol: String, textCol: String,
                                   threshold: Double,
                                   maxShinglesPerDoc: Option[Int] = None): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(newDocs.sparkSession)
    val shN = capDocs(minhashShingleScan(newDocs, idCol, textCol),
      maxShinglesPerDoc).cache()
    val cand = acrossCandidates(lshBands(minhashSignatures(shN)),
      lshBands(index)).cache()
    // parquet restores `shs` as containsNull=true (the writer cannot
    // promise otherwise); sorted_intersect_count requires non-nullable
    // elements, so re-tighten with array_compact (output is
    // containsNull=false, and the build never emits null keys)
    val corpusSets = index.select(col("doc_id"),
        array_compact(col("shs")).as("shs"), col("n_sh"))
      .join(cand.select(col("corpus_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
    verifyBySortedSets(cand,
      sortedKeySetsFor(shN, cand.select(col("new_id").as("doc_id"))),
      corpusSets, "new_id", "corpus_id", threshold)
  }

  /** Connected components over a duplicate-pair graph — the step that
    * turns pairwise near-dup output into KEEP-ONE-PER-CLUSTER decisions
    * (transitively: if a~b and b~c, then {a,b,c} is one cluster even
    * when (a,c) itself scored below threshold).
    *
    * Min-label propagation (hash-to-min): every node repeatedly adopts
    * the minimum label among itself and its neighbors; converges in at
    * most `diameter` rounds — near-dup clusters are small and dense, so
    * typically 2–3. Each round is ONE shuffle (edge join + min
    * aggregate); nothing ever collects to the driver, so the only
    * per-round driver work is the O(1) convergence probe. Throws if the
    * cap is hit before convergence (a partial propagation would be
    * silently wrong).
    *
    * Input: a pair DataFrame (`aCol`, `bCol`). Output: (doc_id, rep)
    * for every node that appears in some pair, rep = min doc id of its
    * component (docs with no duplicates are trivially their own cluster
    * and are not emitted). */
  def duplicateClusters(pairs: DataFrame, aCol: String = "doc_a",
                        bCol: String = "doc_b", maxIters: Int = 20,
                        roundsMetric: String = "cluster_rounds"): DataFrame = {
    // cache the pair projection BEFORE mirroring: a self-union computes
    // its input subtree once per branch (Spark has no cross-branch CSE),
    // which would run the whole upstream candidate/verify pipeline twice
    val p = pairs.select(col(aCol).as("u"), col(bCol).as("v")).cache()
    // no distinct on the mirrored edge list: duplicate edges cannot
    // change a min-aggregate, so deduping would be one pure-cost shuffle
    val edges = p.union(p.select(col("v").as("u"), col("u").as("v")))
      .cache()
    // localCheckpoint (not cache): each round's plan references the
    // previous labels TWICE, so an uncheckpointed loop doubles the
    // logical plan per round — exponential analysis cost that OOMs the
    // driver long before the data does. Checkpointing truncates lineage
    // to the materialized partitions, keeping every round's plan flat.
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("rep", col("id")).localCheckpoint(true)
    // the checkpointed frame whose RDD backs `labels` (labels itself may
    // be a projection over it in later rounds) — retired each round so
    // block-manager storage stays O(1) in rounds, not O(rounds)
    var labelsCkpt = labels
    p.unpersist()  // edges materialized alongside the first checkpoint
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val repType = labels.schema("rep").dataType
      val viaEdges = edges
        .join(labels.select(col("id").as("v"), col("rep")), Seq("v"))
        .select(col("u").as("id"), col("rep"),
          lit(null).cast(repType).as("prev"))
      // `prev` carries each node's incoming rep THROUGH the aggregate
      // (every id occurs exactly once in labels, so max over the branch
      // recovers it) — convergence is then a column of the round's own
      // output instead of a separate join-back probe job.
      // lazy checkpoint: referenced twice by the pointer-jump self-join
      // below, and Spark has no cross-branch CSE — without it the whole
      // propagate subtree (edge join + union + min-agg) computes twice
      // per round.
      val prop = viaEdges
        .union(labels.select(col("id"), col("rep"), col("rep").as("prev")))
        .groupBy(col("id"))
        .agg(min(col("rep")).as("rep"), max(col("prev")).as("prev"))
        .localCheckpoint(false)
      // pointer jumping: follow rep through the round's own id→rep map
      // TWICE (a rep is itself a node and carries its own, possibly
      // smaller, rep) — propagation distance roughly triples per round,
      // so chains converge in O(log₃ diameter) rounds instead of
      // O(diameter). Both hops read the same checkpointed map, so the
      // second hop costs one extra join over materialized partitions,
      // which is cheaper than the round it replaces.
      val hop = prop.select(col("id").as("rep"), col("rep").as("rep2"))
      val next = prop
        .join(hop, Seq("rep"), "left")
        .select(col("id"), coalesce(col("rep2"), col("rep")).as("rep"),
          col("prev"))
        .join(hop, Seq("rep"), "left")
        .select(col("id"), coalesce(col("rep2"), col("rep")).as("rep"),
          col("prev"))
        .localCheckpoint(false)
      // ONE job per round: this aggregate materializes both lazy
      // checkpoints AND returns the changed-count that decides
      // convergence (the old separate isEmpty probe was a second full
      // job per round).
      val nChanged = next
        .agg(coalesce(sum(when(col("rep") =!= col("prev"), 1L)
          .otherwise(0L)), lit(0L)).as("c"))
        .head().getLong(0)
      converged = nChanged == 0L
      // prop's checkpoint and the previous round's labels are dead once
      // next is materialized — release their blocks now
      unpersistLocalCheckpoint(prop)
      unpersistLocalCheckpoint(labelsCkpt)
      labelsCkpt = next
      labels = next.select(col("id"), col("rep"))
      i += 1
    }
    edges.unpersist()
    graft.util.OpMetrics.publish(roundsMetric, i.toLong)
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIters rounds — " +
          s"component diameter exceeds ~3^$maxIters; raise maxIters")
    labels.select(col("id").as("doc_id"), col("rep"))
  }

  /** Keep-one-per-cluster corpus filter — the end of the dedup pipeline:
    * given the corpus and a near-duplicate pair set, drop every document
    * that belongs to a duplicate cluster and is NOT its representative
    * (min id). Documents in no pair are their own cluster and are kept.
    * Scale shape: the drop list is one row per non-representative
    * duplicate — far smaller than the corpus — so the anti-join
    * broadcasts when small and shuffles on the id key otherwise (AQE's
    * call); the corpus is never collected or broadcast. */
  def keepClusterRepresentatives(docs: DataFrame, pairs: DataFrame,
                                 idCol: String, aCol: String = "doc_a",
                                 bCol: String = "doc_b"): DataFrame = {
    val nonReps = duplicateClusters(pairs, aCol, bCol,
        roundsMetric = "keep_cluster_rounds")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("_dup_drop_id"))
    docs.join(nonReps, docs(idCol) === col("_dup_drop_id"), "left_anti")
  }

  /** Quality-aware cluster survivor selection: within each duplicate
    * cluster keep the member with the HIGHEST score (ties on smaller
    * id — fully deterministic), instead of
    * [[keepClusterRepresentatives]]' min-id convention. This is what a
    * curation pipeline actually wants: among near-duplicate documents,
    * keep the longest / highest-quality one and drop the rest.
    * Members without a score row are kept (conservative: an unscored
    * doc is never silently dropped).
    *
    * Scale shape: clusters are metadata-sized (one row per clustered
    * id); the survivor choice is one per-cluster max over a
    * (score, −id) struct — a plain hash aggregate, no window sort —
    * and the corpus is touched only by the final anti-join. */
  def keepBestInCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                        scoreCol: String, aCol: String = "doc_a",
                        bCol: String = "doc_b"): DataFrame = {
    val scored = duplicateClusters(pairs, aCol, bCol,
        roundsMetric = "keep_best_rounds")
      .join(docs.select(col(idCol).as("doc_id"),
        col(scoreCol).cast("double").as("_score")), Seq("doc_id"))
    val keepers = scored.groupBy(col("rep"))
      .agg(max(struct(col("_score").as("s"),
        (-col("doc_id")).as("negid"))).as("m"))
      .select((-col("m.negid")).as("_keep_id"))
    val drops = scored
      .join(keepers, scored("doc_id") === keepers("_keep_id"), "left_anti")
      .select(col("doc_id").as("_dup_drop_id"))
    docs.join(drops, docs(idCol) === col("_dup_drop_id"), "left_anti")
  }

  /** Release the storage behind a `localCheckpoint`ed DataFrame (the
    * Dataset API has no public handle to the checkpoint RDD; `unpersist`
    * on the Dataset only touches CacheManager entries). No-op on frames
    * that are not checkpoints. */
  private def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** 32-bit SimHash per doc over the token multiset: 32 signed partial
    * sums in ONE aggregation pass, then bit assembly. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", hash32(col("tok"))) // hash ONCE, share across 32 aggs
    val sums = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), 31 - j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$j")
    }
    val agg = toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
    val sim = (0 until 32).map { j =>
      when(col(s"s$j") >= 0, lit(1L << (31 - j))).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3):
    * byte-block equi-join — pigeonhole guarantees every qualifying pair
    * shares at least one of the 4 signature bytes, so no cross join. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-byte blocking is exact only for hamming <= 3")
    val sigs = simhashSignatures(docs, idCol, textCol).cache()
    val blocks = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(
        shiftright(col("simhash"), 24).bitwiseAND(255),
        shiftright(col("simhash"), 16).bitwiseAND(255),
        shiftright(col("simhash"), 8).bitwiseAND(255),
        col("simhash").bitwiseAND(255))).as(Seq("blk", "byte")))
    val a = blocks.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
      col("blk"), col("byte"))
    val b = blocks.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"),
      col("blk"), col("byte"))
    a.join(b, Seq("blk", "byte"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Order-stable dot product (custom codegen Expression; identical
    * fold order to `aggregate(zip_with(...))` and the DuckDB oracle). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotF32(a, b)

  /** Order-stable cosine similarity between two float-array columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** SRP-LSH (random-hyperplane) embedding near-duplicate pairs — the
    * 100 TB candidate stage that replaces both the cross join AND the
    * stored-block-column requirement of [[embeddingPairs]]:
    *
    *  1. Quantize each vector to integers (⌊1000·x⌋, exact in both
    *     engines), then sign nBands·bandBits deterministic hyperplane
    *     dots (functions.SrpSigsF32, a codegen Expression; hyperplanes
    *     are md5-derived so the ANSI-SQL oracle re-derives them) —
    *     integer arithmetic, no float-sum-order hazard.
    *  2. Pack bits into per-band signatures; candidates = pairs sharing
    *     any (band, signature) — an equi-join shuffle keyed by the
    *     signature, never a corpus-wide cross join.
    *  3. Verify candidates with exact cosine ≥ threshold on the original
    *     float vectors.
    *
    * Recall is the standard SRP curve 1 − (1 − p^bandBits)^nBands with
    * p = 1 − θ/π: ≈ 1 for true near-duplicates (cos ≥ 0.9), partial at
    * borderline angles (cos ≈ 0.45 ⇒ ~0.4 at the 16×8 default) — the
    * candidate stage is part of the operator's defined, oracle-replicated
    * semantics, exactly like MinHash banding. */
  def embeddingLshPairs(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, dim: Int,
                        nBands: Int = 16, bandBits: Int = 8): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(emb.sparkSession)
    val banded = emb.select(col(idCol).as("vec_id"),
        graft.functions.VectorExpressions.srpSigsF32(
          col(vecCol), nBands, bandBits, dim).as("sigs"))
      .select(col("vec_id"), posexplode(col("sigs")).as(Seq("band", "sig")))
    val cand = banded.select(col("vec_id").as("vec_a"), col("band"), col("sig"))
      .join(banded.select(col("vec_id").as("vec_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    cand
      .join(e.select(col("id").as("vec_a"), col("v").as("va"), col("n").as("na")),
        Seq("vec_a"))
      .join(e.select(col("id").as("vec_b"), col("v").as("vb"), col("n").as("nb")),
        Seq("vec_b"))
      // null (not NaN) on zero norms — see embeddingPairs
      .withColumn("cos", when(col("na") > 0 && col("nb") > 0,
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold. Exact scoring;
    * pass a blocking column (e.g. coarse cluster id) to avoid the full
    * cross join at scale — [[embeddingLshPairs]] is the candidate stage
    * that needs no stored block column at all. */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, blockCol: Option[String] = None): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(emb.sparkSession)
    // norms computed once per vector, not once per pair (3× fewer dots)
    val a = emb.select(col(idCol).as("vec_a"), col(vecCol).as("va"),
      blockCol.map(col).getOrElse(lit(0)).as("blk"))
      .withColumn("na", sqrt(dot(col("va"), col("va"))))
    val b = emb.select(col(idCol).as("vec_b"), col(vecCol).as("vb"),
      blockCol.map(col).getOrElse(lit(0)).as("blk"))
      .withColumn("nb", sqrt(dot(col("vb"), col("vb"))))
    a.join(b, Seq("blk"))
      .filter(col("vec_a") < col("vec_b"))
      // null (not NaN) when a norm is zero: NaN compares greater than
      // every double, so 0/0 pairs would pass the threshold filter
      .withColumn("cos", when(col("na") > 0 && col("nb") > 0,
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }
}
