package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level quality signals for pretraining-data curation — the
  * operators that need corpus or document aggregation (unlike the pure
  * per-row scores in [[graft.functions.TextAnalysis]]):
  *
  *  - repetition statistics (Gopher/MassiveText-style): top-bigram
  *    fraction and duplicate-token fraction per document, with a flag
  *    threshold — the standard cheap filter for degenerate/looping text;
  *  - benchmark contamination: per-document fraction of n-gram shingles
  *    that also occur in a held-out benchmark set — the decontamination
  *    check run before any training set ships;
  *  - corpus bigram-LM scoring (CCNet-style): mean log-probability of a
  *    document under the corpus's own bigram statistics — low scores
  *    mark outlier/garbled text, high scores mark degenerate/templated
  *    text.
  *
  * All arithmetic is integer counting + ln/round — reproducible in ANSI
  * SQL, so each operator is oracle-gated end to end.
  *
  * CACHE CONTRACT: operators cache a shared scan (the tokenized corpus
  * / the bigram-instance scan) because two aggregation branches consume
  * it and Spark has no cross-branch CSE. The cache entries live until
  * the session drops them — callers running many corpora through one
  * session should `spark.catalog.clearCache()` between runs (the
  * Verify/Bench harnesses do exactly this after every query).
  */
object CorpusQuality {

  /** Per-document repetition statistics:
    * `top_bigram_frac` = occurrences of the document's most frequent
    * word bigram / total bigram occurrences (0.0 when the document has
    * no bigram), `dup_token_frac` = 1 − distinct/total tokens, and
    * `flagged` when top_bigram_frac ≥ `flagThreshold`.
    *
    * Scale shape: the mode-of-bigrams needs per-(doc, bigram) counts —
    * two hash aggregations keyed by doc (map-side partial combine, no
    * skew: keys are per-document), then a join back to the per-row token
    * stats on doc_id. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      flagThreshold: Double = 0.10): DataFrame = {
    // cached: the per-row stats and the bigram-mode aggregation both
    // read it, and Spark has no cross-branch CSE — without the cache the
    // corpus would be scanned and regex-tokenized twice
    val base = docs.select(col(idCol).as("doc_id"),
      graft.functions.TextAnalysis.tokens(col(textCol)).as("toks"))
      .cache()
    repetitionStatsFromTokens(base, flagThreshold)
  }

  /** [[repetitionStats]] over an ALREADY-tokenized (and ideally
    * cached) `(doc_id, toks)` frame — the seam that lets a composed
    * pipeline ([[curationReport]]) tokenize the corpus once and feed
    * every token-grain signal from the same cached scan. */
  private[graft] def repetitionStatsFromTokens(
      base: DataFrame, flagThreshold: Double): DataFrame = {
    val tokStats = base.select(col("doc_id"),
      size(col("toks")).as("n_tokens"),
      when(size(col("toks")) > 0,
        graft.functions.TextAnalysis.round4Stable(
          lit(1.0) - size(array_distinct(col("toks"))) /
            size(col("toks")).cast("double")))
        .otherwise(lit(0.0)).as("dup_token_frac"))
    val perBigram = base
      .select(col("doc_id"), explode(Dedup.shinglesFromTokens(col("toks"))).as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("cnt"))
    val tbf = perBigram.groupBy(col("doc_id"))
      .agg(graft.functions.TextAnalysis.round4Stable(
          max(col("cnt")).cast("double") / sum(col("cnt")))
        .as("top_bigram_frac"))
    tokStats.join(tbf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("dup_token_frac"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        (coalesce(col("top_bigram_frac"), lit(0.0)) >= flagThreshold)
          .as("flagged"))
  }

  /** Per-document benchmark contamination: the fraction of the
    * document's DISTINCT word-bigram shingles that also occur anywhere
    * in `bench`. Documents with no bigram (<2 tokens) emit no row —
    * there is nothing to measure.
    *
    * Scale shape: the benchmark shingle set is distinct-reduced first
    * (benchmarks are small; the set broadcasts when it fits, shuffles
    * otherwise — AQE's call); document shingles join it on the 64-bit
    * hashed key, so no string ever shuffles. The corpus is never
    * collected or broadcast. */
  def contamination(train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String): DataFrame =
    contaminationFromWords(
      train.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("w")),
      bench, idCol, textCol)

  /** [[contamination]] over an already-split `(doc_id, w)` train
    * frame (the [[curationReport]] shared-scan seam; the benchmark
    * side is small and tokenizes on its own). */
  private[graft] def contaminationFromWords(
      trainWs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val benchSh = Dedup.hashedShingleSet(bench, idCol, textCol)
      .select(col("sh")).distinct()
    val docSh = Dedup.hashedShingleSetFromWords(trainWs)
    val tot = docSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hit = docSh.join(benchSh, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        graft.functions.TextAnalysis.round4Stable(
            coalesce(col("n_hit"), lit(0L)) / col("n_sh").cast("double"))
          .as("contamination"))
  }

  /** Verbatim k-gram coverage — the EXACT duplicated-substring metric
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): for every document, the fraction of its k-token windows
    * that appear verbatim in at least one OTHER document. The
    * all-windows complement of [[Winnowing]]: winnowing samples
    * fingerprints (guaranteeing detection only for runs ≥ w+k−1), this
    * measures every window exactly — the signal a decontamination /
    * verbatim-memorization report needs.
    *
    * Scale shape: NO pair enumeration anywhere — one window explode
    * (rows ∝ corpus tokens), a per-(doc, gram) count, a gram-keyed
    * document-frequency aggregate, and a join back on the gram hash.
    * Cost is linear in corpus size, which is why this runs corpus-wide
    * at 100 TB where any pairwise formulation cannot. Windows are
    * hashed to 64-bit before every shuffle (xxhash64 collisions:
    * P ≈ n²/2⁶⁵, immaterial against a coverage percentage).
    *
    * Output per document with ≥1 window (docs shorter than k tokens
    * have nothing to measure): (doc_id, n_windows, n_shared,
    * shared_pct) — windows counted WITH multiplicity; a window repeated
    * only within its own document is not "shared". shared_pct =
    * ⌊100·n_shared/n_windows⌋, exact integer arithmetic. */
  def verbatimCoverage(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8): DataFrame = {
    require(k >= 2, "window size k must be >= 2 tokens")
    val grams = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .select(col("doc_id"), explode(
        when(size(col("w")) >= k,
          transform(sequence(lit(1), size(col("w")) - (k - 1)),
            i => xxhash64(concat_ws(" ", slice(col("w"), i, lit(k))))))
          .otherwise(array())).as("gh"))
    val perDoc = grams.groupBy(col("doc_id"), col("gh"))
      .agg(count(lit(1)).as("n"))
    val docFreq = perDoc.groupBy(col("gh")).agg(count(lit(1)).as("df_docs"))
    perDoc.join(docFreq, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_windows"),
        sum(when(col("df_docs") >= 2, col("n")).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_windows"), col("n_shared"),
        // integer division end to end — no double quotient anywhere
        expr("(100 * n_shared) div n_windows").cast("long").as("shared_pct"))
  }

  /** The curation pipeline's end product: one row per training document
    * joining every quality signal — token stats + heuristic quality
    * score, repetition statistics, corpus bigram-LM score, benchmark
    * contamination — and a `keep` decision:
    * NOT repetition-flagged AND quality ≥ minQuality AND
    * contamination < maxContamination. Documents too short to have a
    * bigram carry 0.0 for the LM/contamination signals (nothing to
    * measure ⇒ no evidence to drop on those axes).
    *
    * Scale shape: the corpus tokenizes exactly TWICE — one cached
    * regex-token scan feeds the quality and repetition signals, one
    * cached whitespace-split scan feeds the LM and contamination
    * signals (their historical tokenization; values must not move) —
    * then each signal is its own aggregation joined back on doc_id.
    * Joins on the high-cardinality id key shuffle; nothing
    * corpus-sized broadcasts. */
  def curationReport(train: DataFrame, bench: DataFrame,
                     idCol: String, textCol: String,
                     minQuality: Double = 0.65,
                     repetitionFlagThreshold: Double = 0.10,
                     maxContamination: Double = 0.5): DataFrame = {
    // the two shared scans — without them the four signals would scan
    // and tokenize the corpus four times (no cross-branch CSE)
    val toks = train.select(col(idCol).as("doc_id"),
        graft.functions.TextAnalysis.tokens(col(textCol)).as("toks"))
      .cache()
    val ws = train.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("w"))
      .cache()
    val qual = toks.select(col("doc_id"),
      graft.functions.TextAnalysis.qualityScoreFromTokens(col("toks"))
        .as("quality"))
    val rep = repetitionStatsFromTokens(toks, repetitionFlagThreshold)
    val lm = bigramLmScoresFromWords(ws)
      .select(col("doc_id"), col("lm_score"))
    val cont = contaminationFromWords(ws, bench, idCol, textCol)
      .select(col("doc_id"), col("contamination"))
    qual
      .join(rep, Seq("doc_id"))
      .join(lm, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("dup_token_frac"), col("top_bigram_frac"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"),
        coalesce(col("contamination"), lit(0.0)).as("contamination"),
        (!col("flagged") && col("quality") >= minQuality &&
          coalesce(col("contamination"), lit(0.0)) < maxContamination)
          .as("keep"))
  }

  /** The corpus's top-`vocabSize` tokens by instance count (ties broken
    * lexicographically — a deterministic truncation boundary). One
    * explode + hash aggregate (map-side combine) + TakeOrdered: the full
    * token-count table never sorts globally and never reaches the
    * driver. */
  def vocabulary(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(vocabSize)

  /** Per-document out-of-vocabulary statistics against the corpus's own
    * top-`vocabSize` vocabulary: token instances, OOV instances, and the
    * OOV rate — the tokenizer-fit signal computed before committing a
    * vocabulary (a rising corpus-wide OOV rate means the vocabulary is
    * too small or the corpus drifted).
    *
    * Scale shape: the vocabulary is top-k-truncated (bounded by
    * construction), so it BROADCASTS to the exploded token stream — the
    * per-token membership probe is map-side; the only shuffle is the
    * per-document count aggregate, keyed by the high-cardinality doc id
    * (no skew). */
  def oovStats(docs: DataFrame, idCol: String, textCol: String,
               vocabSize: Int): DataFrame = {
    val vocab = vocabulary(docs, textCol, vocabSize)
      .select(col("tok"), lit(true).as("_in_vocab"))
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_in_vocab").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        graft.functions.TextAnalysis.round4Stable(
          col("n_oov") / col("n_tokens").cast("double")).as("oov_rate"))
  }

  /** Keep rows whose `scoreCol` is at or above the corpus's exact
    * interpolated `q`-quantile — quantile-relative filtering ("drop the
    * bottom quartile by quality"), the corpus-calibrated form of a fixed
    * score threshold: it tracks distribution drift instead of silently
    * keeping more or less data as the corpus changes.
    *
    * Scale shape: the threshold is a 1-row aggregate broadcast onto the
    * corpus (cross join with a single row — the [[graft.operators.Ranking]]
    * stats pattern), then a map-side filter; the corpus never shuffles.
    * Exact `percentile` (not the sketch) keeps the operator
    * oracle-checkable; swap in approx_percentile at extreme scales where
    * a full sort-based exact quantile is unaffordable. */
  def filterByScoreQuantile(df: DataFrame, scoreCol: String,
                            q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, "quantile must be in (0, 1)")
    val thr = df.agg(expr(s"percentile($scoreCol, $q)").as("_thr"))
    df.crossJoin(broadcast(thr))
      .filter(col(scoreCol) >= col("_thr"))
      .drop("_thr")
  }

  /** Per-document mean bigram log-probability under the corpus's own
    * bigram model: score(d) = avg over d's bigram INSTANCES of
    * ln(c(w1 w2) / c(w1 ·)), where both counts are corpus-wide bigram
    * instance counts. No smoothing is needed — every scored bigram comes
    * from the corpus, so its count is ≥ 1. Scores are ≤ 0; unusually low
    * means out-of-distribution text, 0 means fully templated. Documents
    * with no bigram emit no row.
    *
    * Scale shape: one explode carrying (bigram, head) per instance, two
    * hash aggregations for the model counts, then one join of instances
    * to the (bigram, head-count, bigram-count) model keyed on the
    * bigram — the model is vocabulary-sized, so the join shuffles on the
    * bigram key rather than broadcasting. The instance scan is cached
    * because model building and scoring both read it. */
  def bigramLmScores(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramLmScoresFromWords(
      docs.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("w")))

  /** [[bigramLmScores]] over an already-split `(doc_id, w)` frame
    * (the [[curationReport]] shared-scan seam; the bigram-instance
    * scan below keeps its OWN cache — model building and scoring both
    * read it). */
  private[graft] def bigramLmScoresFromWords(ws: DataFrame): DataFrame = {
    val inst = ws
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => struct(
          concat(element_at(col("w"), i), lit(" "),
            element_at(col("w"), i + 1)).as("sh"),
          element_at(col("w"), i).as("head")))).as("bg"))
      .select(col("doc_id"), col("bg.sh").as("sh"), col("bg.head").as("head"))
      .cache()
    val cnt = inst.groupBy(col("sh")).agg(count(lit(1)).as("c_bg"))
    val heads = inst.groupBy(col("head")).agg(count(lit(1)).as("c_head"))
    inst
      .join(cnt, Seq("sh"))
      .join(heads, Seq("head"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        round(avg(log(col("c_bg").cast("double") / col("c_head"))), 4)
          .as("lm_score"))
  }

  /** PMI collocations — the corpus's statistically-bound word pairs
    * (pmi = ln(c_ab·N / (c_a·c_b)) over adjacent-token pairs), the
    * standard collocation/multi-word-expression miner and a direct
    * reuse of the BPE trainer's adjacency statistics at word grain.
    * `minCount` guards the low-count PMI explosion (a pair seen once
    * between two rare words scores arbitrarily high). Integer counts
    * cast to double before multiplication (exact below 2^53); one ln
    * per surviving pair, rounded to 4 decimals, ties on (w1, w2) —
    * oracle-reproducible like the BM25 idf. Scale shape: one tokenize
    * feeding both the unigram and pair aggregates, two broadcast-sized
    * joins (surviving pairs are few by the minCount cut), a 1-row
    * total broadcast; top-k plans as TakeOrdered. */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
                   minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, "minCount and k must be positive")
    val ws = docs.select(col(idCol).as("doc_id"),
      filter(split(col(textCol), "\\s+"), t => t =!= "").as("w"))
    val toks = ws.select(explode(col("w")).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val tot = toks.agg(count(lit(1)).as("n"))
    val pairs = ws.filter(size(col("w")) >= 2)
      .select(explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1).as("l"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("r"))).as("p"))
      .groupBy(col("p.l").as("w1"), col("p.r").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    pairs
      .join(uni.select(col("tok").as("w1"), col("c").as("_c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("_c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log((col("n_pair").cast("double") * col("n")) /
          (col("_c1").cast("double") * col("_c2"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** CROSS-CORPUS bigram-LM negative log-likelihood — the CCNet
    * setup proper: train an add-k-smoothed bigram model on a
    * REFERENCE corpus (the high-quality side — Wikipedia in CCNet)
    * and score a TARGET corpus against it; low scores read like the
    * reference, high scores are junk/wrong-language/garbled. This is
    * what [[bigramLmScores]] (the unsmoothed self-scoring diagnostic)
    * cannot do: a target bigram the reference never saw has MLE
    * probability zero, so cross-corpus scoring REQUIRES the smoothing
    * mass —
    *
    *   P(w₂|w₁) = (c_ref(w₁w₂) + k) / (c_ref(w₁·) + k·V_ref)
    *
    * with c_ref(w₁·) the reference's LEFT-position unigram count,
    * V_ref the reference vocabulary, and unseen w₁/w₁w₂ contributing
    * their natural smoothed floor (k/(k·V) resp. k/(c₁+k·V)).
    * avg_nll = ROUND(Σ −ln P / n, 4) per target document (one ln per
    * bigram instance; the charEntropy float convention). Target docs
    * with fewer than two tokens surface with n_bigrams = 0 and NULL
    * avg_nll — scoring is total.
    *
    * Scale shape: reference counts are two vocab-bounded map-side-
    * combined aggregates (the model IS two tables — persist them via
    * [[graft.sinks.ManifestTable.save]] to train once and score many);
    * scoring is two token-keyed LEFT joins onto the target's bigram
    * stream + one doc-keyed aggregate — the TF-IDF cost silhouette,
    * nothing all-pairs. */
  def bigramNll(reference: DataFrame, target: DataFrame,
                idCol: String, textCol: String,
                k: Double = 0.5): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    def pairsOf(df: DataFrame) = {
      val ws = df.select(col(idCol).as("doc_id"),
        filter(split(col(textCol), "\\s+"), t => t =!= "").as("w"))
      ws.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1).as("l"),
          slice(col("w"), lit(2), size(col("w")) - 1).as("r"))).as("p"))
        .select(col("doc_id"), col("p.l").as("w1"), col("p.r").as("w2"))
    }
    val refPairs = pairsOf(reference)
    val c12 = refPairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("_c12"))
    val c1 = refPairs.groupBy(col("w1")).agg(count(lit(1)).as("_c1"))
    val vocab = reference
      .select(explode(filter(split(col(textCol), "\\s+"),
        t => t =!= "")).as("tok"))
      .agg(countDistinct(col("tok")).as("_v"))
    val scored = pairsOf(target)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (-log((coalesce(col("_c12"), lit(0L)).cast("double") + lit(k)) /
          (coalesce(col("_c1"), lit(0L)).cast("double") +
            lit(k) * col("_v").cast("double"))))
          .as("_nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nll")).as("_s"))
    target.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("_s") / col("n_bigrams").cast("double"), 4).as("avg_nll"))
  }

  /** Per-document character-distribution Shannon entropy (nats) — the
    * cheap gibberish/binary-spill detector: natural text sits in a
    * band, base64 blobs and repeated-char spam fall far outside it.
    * H = ln(n) − (Σ c·ln c)/n over the doc's character counts — one
    * narrow explode + two doc-keyed aggregates, rounded to 4 decimals
    * (the bigram-LM float convention). Documents with no characters
    * are absent from the output (no distribution to measure). */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(filter(split(col(textCol), ""), c => c =!= "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("_slc"))
      .select(col("doc_id"), col("n_chars"),
        round(log(col("n_chars").cast("double")) -
          col("_slc") / col("n_chars").cast("double"), 4).as("entropy"))

  /** CCNet-style line-level boilerplate removal: drop every line that
    * occurs (trimmed-identical) in MORE than `maxDf` distinct documents
    * — template headers, nav bars, cookie banners, footers — and
    * reassemble each document from its surviving lines in original
    * order. The per-line document frequency is the corpus-level signal
    * no per-row filter can compute; line-level (not doc-level) dedup is
    * what removes the boilerplate WITHOUT discarding the unique content
    * around it.
    *
    * Contract (engine-independent, oracle-replicated): a line's df =
    * COUNT(DISTINCT doc) of its trimmed text; lines trimming to '' are
    * dropped unconditionally (they carry no content and would otherwise
    * df-accumulate); output = (doc_id, clean_text = kept lines joined
    * by \n, n_kept, n_dropped), one row per input document — documents
    * whose every line is boilerplate surface with clean_text = ''.
    *
    * Scale shape: one narrow line explode; df is ONE hash aggregation
    * keyed by the 64-bit line hash (count-distinct by (hash, doc)
    * pre-aggregation — no strings shuffle: the trimmed line text stays
    * in the per-doc rows and never moves to the df shuffle); the
    * boilerplate set (df > maxDf rows — tiny: boilerplate is by
    * definition few DISTINCT lines) anti-joins the line rows; AQE
    * broadcasts it when small. Reassembly is one per-doc aggregation —
    * collect_list order is fixed by sorting on the carried line index.
    * Hash collisions conflate two distinct lines' dfs with probability
    * ~n²/2⁶⁴ per corpus — immaterial (the minhash-family convention). */
  def dropBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                           maxDf: Long): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    val lines = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line0")))
      .select(col("doc_id"), col("line_no"), trim(col("line0")).as("line"))
      .filter(col("line") =!= "")
      .withColumn("lh", xxhash64(col("line")))
      .cache()
    val boiler = lines.select(col("lh"), col("doc_id")).distinct()
      .groupBy(col("lh")).agg(count(lit(1)).as("ldf"))
      .filter(col("ldf") > maxDf).select(col("lh"))
    val kept = lines.join(boiler, Seq("lh"), "left_anti")
    // one row per INPUT doc (all-boilerplate docs keep an empty text):
    // aggregate kept lines per doc, then right-join the doc spine
    val assembled = kept
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"),
        count(lit(1)).cast("int").as("n_kept"))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(lines.groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("int").as("n_lines")),
        Seq("doc_id"), "left")
      .join(assembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        (coalesce(col("n_lines"), lit(0)) - coalesce(col("n_kept"), lit(0)))
          .as("n_dropped"))
  }
}
