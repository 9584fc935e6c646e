package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding VOCABULARY LEARNING — the tokenizer-
  * training half of an LLM data pipeline ([[graft.functions
  * .TextAnalysis.subwordCountApprox]] is the cheap stand-in for
  * APPLYING a tokenizer; this learns one). Classic BPE (Sennrich et
  * al. 2016): start from characters, repeatedly merge the most
  * frequent adjacent symbol pair, corpus-frequency-weighted.
  *
  * The scale design is the one every real BPE trainer uses: all
  * training rounds run on the WORD-COUNT table, not the corpus. The
  * corpus is scanned exactly once ([[wordCounts]] — one tokenize +
  * one aggregate); after that, every round costs one pair-count
  * aggregate over the |distinct words| table (heavy-tailed: bounded
  * in the millions while the corpus grows to 100 TB) plus a 1-row
  * collect of the winning pair — metadata-scale driver traffic, like
  * the dedup cluster loop's convergence probe. Pair merging is a
  * pure codegen'd `aggregate` fold over each word's symbol array (no
  * UDF), and each round localCheckpoints the vocab so the loop's
  * lineage stays flat (the [[Dedup]] pointer-jumping discipline: lazy
  * checkpoint, materialized by the NEXT round's aggregate — one job
  * per round — with the predecessor's blocks released only after its
  * successor is materialized).
  *
  * ENCODING then never re-runs the merge loop on the corpus: the
  * trained vocab table already carries each word's final symbol
  * sequence, so [[encode]] is explode words → join the vocab →
  * reassemble in word order — corpus-scale work is one join, and the
  * iterative cost stays amortized on the vocab table. Unseen words
  * (encoding a corpus beyond the training set) get the model's RANKED
  * MERGES applied to their character sequence ([[applyMerges]] —
  * standard BPE greedy application, computed once per distinct unseen
  * word, vocab-scale), so a word seen in training and the same word
  * arriving later encode identically. Documents whose text tokenizes
  * to zero words (empty, whitespace, NULL) surface with `tokens = []`
  * — encode is total over its input.
  */
object Bpe {

  /** The trained model: merge rules in rank order plus the vocab
    * table (word, n, syms) with all rules applied. */
  final case class BpeModel(merges: Seq[(String, String)], vocab: DataFrame)

  /** Whitespace tokenization shared by training and encoding (empty
    * tokens dropped) — one definition so the two sides cannot drift. */
  private def words(text: Column): Column =
    filter(split(text, "\\s+"), w => w =!= "")

  /** Corpus word counts — the vocab-scale table every training round
    * runs on. One tokenize pass + one aggregate (map-side combined). */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(words(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** A word's initial symbolization: its character sequence. */
  private def charSyms(word: Column): Column =
    filter(split(word, ""), s => s =!= "")

  /** Round-0 vocab: every word as its character sequence — the state
    * [[pairCounts]] sees before any merge (public so the gated query
    * can probe the first round's pair statistics directly). */
  def initialVocab(wordCounts: DataFrame): DataFrame =
    wordCounts.withColumn("syms", charSyms(col("word")))

  /** Adjacent-pair counts of the current symbolization, weighted by
    * word frequency: (lsym, rsym, cnt). One aggregate over the vocab
    * table; single-symbol words contribute nothing. */
  def pairCounts(vocab: DataFrame): DataFrame = {
    val s = col("syms")
    vocab.filter(size(s) > 1)
      .select(col("n"), explode(arrays_zip(
        slice(s, lit(1), size(s) - 1).as("l"),
        slice(s, lit(2), size(s) - 1).as("r"))).as("p"))
      .groupBy(col("p.l").as("lsym"), col("p.r").as("rsym"))
      .agg(sum(col("n")).as("cnt"))
  }

  /** Greedy left-to-right application of ONE merge rule to a symbol
    * array — a codegen'd fold: each element either fuses with a
    * pending `l` tail or appends. Non-overlapping by construction
    * (the fused symbol is longer than `l`, so it can only seed a NEW
    * match of the same rule, which is exactly BPE's greedy scan:
    * "aaaa" under (a,a) → [aa, aa]). */
  private def mergeOnce(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, array(x))
        .otherwise(when(element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x)))))

  /** Learn `numMerges` merge rules from a [[wordCounts]] table.
    * Winner per round: highest weighted pair count, ties broken
    * lexicographically on (lsym, rsym) — fully deterministic. Stops
    * early when no pair remains (every word fused to one symbol). */
  def learn(wordCounts: DataFrame, numMerges: Int): BpeModel = {
    require(numMerges >= 1, "learn at least one merge")
    var vocab = initialVocab(wordCounts).localCheckpoint(true)
    var retired: Option[DataFrame] = None
    val rules = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (rules.size < numMerges && !done) {
      // this collect materializes the (lazy) current checkpoint, after
      // which its predecessor's blocks are safe to release
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("lsym").asc, col("rsym").asc)
        .limit(1).collect()
      retired.foreach(unpersistLocalCheckpoint)
      retired = None
      if (top.isEmpty) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        rules += ((l, r))
        val next = vocab.withColumn("syms", mergeOnce(col("syms"), l, r))
          .localCheckpoint(false) // lazy: next round's aggregate runs it
        retired = Some(vocab)
        vocab = next
      }
    }
    vocab.count(): Unit // materialize the final round before release
    retired.foreach(unpersistLocalCheckpoint)
    BpeModel(rules.toSeq, vocab)
  }

  /** [[learn]] from a corpus directly. */
  def learn(docs: DataFrame, textCol: String, numMerges: Int): BpeModel =
    learn(wordCounts(docs, textCol), numMerges)

  /** Persist a trained model as two [[graft.sinks.ManifestTable.save]]
    * versions — `root/merges` (rank, lsym, rsym) and `root/vocab`
    * (word, n, syms) — so training runs ONCE per corpus epoch and
    * every later batch/stream encodes against the stored vocab (the
    * same train-once/apply-many shape as the MinHash and PQ model
    * stores). Atomic per table; a reader mid-save resolves the
    * previous coherent pair only after both commit in order
    * vocab-then-merges (merges are the smaller, later-flip marker).
    * Returns (vocab version, merges version). */
  def saveModel(model: BpeModel, root: String): (Long, Long) = {
    val spark = model.vocab.sparkSession
    import spark.implicits._
    val vv = graft.sinks.ManifestTable.save(model.vocab, s"$root/vocab")
    val mv = graft.sinks.ManifestTable.save(
      model.merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("rank", "lsym", "rsym"), s"$root/merges")
    (vv, mv)
  }

  /** Load a persisted model: merges in rank order (driver-side,
    * |merges| rows — metadata scale), vocab lazy. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                root: String): BpeModel = {
    val merges = graft.sinks.ManifestTable
      .read(spark, s"$root/merges")
      .orderBy(col("rank"))
      .select(col("lsym"), col("rsym"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    BpeModel(merges,
      graft.sinks.ManifestTable.read(spark, s"$root/vocab"))
  }

  /** Bounded nesting for merge-rule folds: each [[mergeOnce]] is a
    * nested `aggregate` lambda, and an unbounded fold of hundreds of
    * rules in one projection would blow up codegen — chunk the fold
    * and checkpoint between chunks (the [[learn]] round discipline). */
  private val MergeFoldChunk = 8

  /** Apply a model's ranked merges to `wordsDf` (a `word` column):
    * returns (word, syms) with every rule applied greedily in rank
    * order — exactly how [[learn]] built the vocab's symbolizations,
    * so training-set words round-trip identically. Cost ∝ |wordsDf| ×
    * |merges|/chunk jobs; run it on DISTINCT words, never a corpus. */
  def applyMerges(wordsDf: DataFrame,
                  merges: Seq[(String, String)]): DataFrame = {
    var cur = wordsDf.select(col("word"))
      .withColumn("syms", charSyms(col("word")))
    var curIsCkpt = false
    merges.grouped(MergeFoldChunk).foreach { chunk =>
      val next = chunk.foldLeft(cur) { case (df, (l, r)) =>
        df.withColumn("syms", mergeOnce(col("syms"), l, r))
      }.localCheckpoint(true)
      if (curIsCkpt) unpersistLocalCheckpoint(cur)
      cur = next
      curIsCkpt = true
    }
    cur
  }

  /** Tokenize a corpus with a trained model: (id, tokens, n_tokens).
    * Words are looked up in the vocab's final symbolization; unseen
    * words get [[applyMerges]] over their distinct set (vocab-scale),
    * so the lookup table covers every word by construction. Zero-word
    * documents (posexplode yields no rows for them) are restored by a
    * left join from the input with `tokens = []`. Corpus-scale cost:
    * one explode + two joins + one per-doc reassembly aggregate — the
    * merge loop only ever runs on distinct unseen words. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             model: BpeModel): DataFrame = {
    val ws = docs.select(col(idCol).as("_bpe_id"),
      posexplode(words(col(textCol))).as(Seq("pos", "word")))
    val unseen = ws.select(col("word")).distinct()
      .join(model.vocab.select(col("word")), Seq("word"), "left_anti")
    // steady state (vocab covers the corpus): skip the chunked merge
    // fold entirely — its ceil(|merges|/chunk) checkpoint jobs would
    // all run over an empty frame
    val lookup =
      if (unseen.isEmpty) model.vocab.select(col("word"), col("syms"))
      else model.vocab.select(col("word"), col("syms"))
        .unionByName(applyMerges(unseen, model.merges))
    val toks = ws
      .join(lookup, Seq("word")) // total: vocab ∪ encoded-unseen
      .groupBy(col("_bpe_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        s => s.getField("syms"))).as("tokens"))
    docs.select(col(idCol))
      .join(toks.withColumnRenamed("_bpe_id", idCol), Seq(idCol), "left")
      .withColumn("tokens",
        coalesce(col("tokens"), array().cast("array<string>")))
      .select(col(idCol), col("tokens"),
        size(col("tokens")).as("n_tokens"))
  }

  /** Release a localCheckpoint's blocks (same rationale as
    * [[Dedup]]'s loop: the Dataset API exposes no handle to the
    * checkpoint RDD). */
  private def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
