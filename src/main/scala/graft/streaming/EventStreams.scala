package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming surface for the engine's time semantics
  * (SURVEY §2.7): the batch spine/occupancy/throughput operators
  * re-expressed as incremental queries. The reference simulates
  * time-series behavior batch-side; this is the streaming-native
  * equivalent for live event feeds.
  *
  * Design notes for scale:
  *  - watermarks bound state (late data beyond the watermark is the
  *    skip-and-count policy of derive/index.ts:470-478 — dropped, never
  *    failing);
  *  - distinct-user occupancy uses watermark + dropDuplicates (exact,
  *    bounded state) instead of COUNT(DISTINCT), which streaming
  *    aggregation cannot do;
  *  - output mode `update`/`append` works against any sink; tests use
  *    the memory sink with processAllAvailable().
  */
object EventStreams {

  /** Hourly distinct-user occupancy per event type over a streaming
    * event feed: the streaming analog of A6 (zero rows naturally absent).
    * Exact distinctness via dedup-WITHIN-WATERMARK (plain dropDuplicates
    * keys carry no event-time column here, so its state would never be
    * evicted), then a windowed count — `window(ts)` keeps the event-time
    * watermark attached (a date_trunc-derived column would not), so the
    * aggregation state is bounded and append output mode works. */
  def hourlyOccupancy(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("frame_ts", date_trunc("hour", col("ts")))
      .dropDuplicatesWithinWatermark("frame_ts", "event_type", "user_id")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("item_count"))
      .select(col("w.start").as("frame_ts"), col("event_type"),
        col("item_count"))

  /** STREAM-STREAM interval join — the live analog of the batch
    * point-in-interval range join ([[graft.operators.RangeJoin]], gated
    * as q_range_join): purchases matched to the 'view' intervals
    * containing them, per user, with BOTH sides unbounded streams.
    *
    * The extra `p_ts ≤ v_ts + maxIntervalMinutes` conjunct is the
    * state-eviction contract Structured Streaming needs on a
    * stream-stream join: it bounds how long a buffered view can still
    * match future purchases, so view state is dropped once the
    * watermark passes `v_ts + bound` — state stays ∝ in-flight window,
    * not ∝ stream history. The bound must dominate the longest real
    * interval (it caps WHAT can match, not just state): callers size it
    * from the domain, as the batch range join sizes its bucket grain.
    * Matches are emitted as both sides arrive (append mode, final —
    * inner join rows never retract). */
  def purchasesInViews(events: DataFrame, maxIntervalMinutes: Int = 300,
                       watermark: String = "1 hour"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val v = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"),
        timestamp_micros(unix_micros(col("ts")) +
          floor(col("value")).cast("long") * 60000000L).as("v_end"))
      .withWatermark("v_ts", watermark)
    p.join(v,
      col("p_user") === col("v_user") &&
        col("p_ts") >= col("v_ts") && col("p_ts") <= col("v_end") &&
        col("p_ts") <= col("v_ts") +
          expr(s"interval $maxIntervalMinutes minutes"))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("view_id"))
  }

  /** Daily entry counts per event type — streaming analog of A7's
    * entry side, with a tumbling 1-day window. */
  def dailyThroughput(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("entries"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("bucket_day"), col("event_type"),
        col("entries"), col("total_value"))

  /** Full A7-A10 streaming analog: entry AND exit counts per day per
    * event type. Exits bucket by interval END (ts + floor(value)
    * minutes, the batch eventIntervals convention). A two-sided
    * full-outer join is not needed (nor stream-stream joinable in
    * general): tagging each event's entry/exit instants and unioning
    * BEFORE one windowed aggregation is the streaming-native merge — a
    * day with only exits still surfaces, entries = 0, exactly like the
    * batch full-outer with zero defaults (J9/A10). */
  def dailyThroughputMerged(events: DataFrame, watermark: String = "2 days",
                            maxIntervalMinutes: Long = 2 * 24 * 60L): DataFrame = {
    // Exit instants are future-shifted by the interval length, and the
    // watermark is computed over the MERGED stream — one huge interval
    // would advance it past on-time data and silently drop rows. Guard:
    // drop exit rows whose shift exceeds maxIntervalMinutes (must stay
    // below the watermark delay), and treat NaN values as 0 (ANSI
    // floor(NaN).cast(long) throws).
    val shiftMin = floor(nanvl(col("value"), lit(0.0))).cast("long")
    val endTs = timestamp_micros(
      unix_micros(col("ts")) + shiftMin * lit(60000000L))
    val entries = events.select(col("ts").as("t"), col("event_type"),
      lit(1L).as("is_entry"))
    val exits = events.filter(shiftMin <= maxIntervalMinutes)
      .select(endTs.as("t"), col("event_type"),
      lit(0L).as("is_entry"))
    entries.unionByName(exits)
      .withWatermark("t", watermark)
      .groupBy(window(col("t"), "1 day").as("w"), col("event_type"))
      .agg(sum(col("is_entry")).as("entries"),
        sum(lit(1L) - col("is_entry")).as("exits"))
      .select(to_date(col("w.start")).as("bucket_day"), col("event_type"),
        col("entries"), col("exits"),
        (year(col("w.start")) * 10000 + month(col("w.start")) * 100 +
          dayofmonth(col("w.start"))).as("bucket_n"))
  }

  /** Streaming exact deduplication by content fingerprint — the
    * ingestion-time analog of Dedup.exactDuplicateGroups for a live
    * training-data feed: emit only the first document per fingerprint,
    * with state bounded by the watermark (a fingerprint seen again
    * after the watermark passes is treated as new — the standard
    * bounded-state trade-off, documented rather than hidden). Must be
    * dropDuplicatesWithinWatermark: plain dropDuplicates on a
    * non-event-time key keeps one state entry per fingerprint FOREVER
    * and never re-emits, contradicting both bounds above. */
  def dedupExactStream(docs: DataFrame, fpCol: String = "fp",
                       watermark: String = "1 day"): DataFrame =
    docs.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(fpCol)

  case class DocEvent(doc_id: Long, ts: java.sql.Timestamp, fp: String)
  case class TaggedDoc(doc_id: Long, fp: String, is_duplicate: Boolean)

  /** Duplicate-TAGGING stream: unlike [[dedupExactStream]] every
    * document flows through, tagged `is_duplicate` when its fingerprint
    * was already seen — what an audit/lineage pipeline needs (drop
    * counts per source, dup-rate monitors) where silent dropping would
    * hide data loss. Keyed state is one boolean per distinct
    * fingerprint, expired `stateTtlMs` past the last sighting via
    * event-time timeout, so state is bounded by the distinct-fingerprint
    * arrival rate × TTL, not the stream length. */
  def tagDuplicates(docs: org.apache.spark.sql.Dataset[DocEvent],
                    watermark: String = "1 day",
                    stateTtlMs: Long = 24 * 3600 * 1000L): org.apache.spark.sql.Dataset[TaggedDoc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def update(fp: String, rows: Iterator[DocEvent],
               state: GroupState[Boolean]): Iterator[TaggedDoc] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
        var seen = state.getOption.getOrElse(false)
        val out = sorted.map { r =>
          val t = TaggedDoc(r.doc_id, fp, seen); seen = true; t
        }
        state.update(true)
        val lastTs = sorted.map(_.ts.getTime).max
        state.setTimeoutTimestamp(
          math.max(state.getCurrentWatermarkMs() + 1, lastTs) + stateTtlMs)
        out.iterator
      }
    }
    docs
      .withWatermark("ts", watermark)
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming benchmark-contamination check — the ingestion-time analog
    * of CorpusQuality.contamination: each arriving document's distinct
    * word-bigram shingles are probed against a STATIC benchmark shingle
    * set via a stream-static join (the static side is planned per
    * micro-batch like any batch join — broadcast when small), then
    * re-aggregated per document inside a tumbling event-time window so
    * the aggregation state is watermark-bounded and append mode emits
    * one final row per document. Same arithmetic as the batch operator:
    * n_sh distinct shingles, n_hit of them in the benchmark,
    * contamination = n_hit/n_sh rounded to 4.
    *
    * `benchSh`: one `sh` (64-bit hashed shingle) column, distinct — what
    * [[graft.operators.Dedup.hashedShingleSet]] produces; a real
    * deployment builds it once from the held-out set and re-reads it. */
  def contaminationStream(docs: DataFrame, benchSh: DataFrame,
                          watermark: String = "1 hour",
                          windowLen: String = "1 hour"): DataFrame = {
    val sh = docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        explode(array_distinct(
          graft.operators.Dedup.shingles2(col("text")))).as("s"))
      .select(col("doc_id"), col("ts"), xxhash64(col("s")).as("sh"))
    sh.join(benchSh.select(col("sh"), lit(1L).as("hit")), Seq("sh"), "left")
      .groupBy(window(col("ts"), windowLen), col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        graft.functions.TextAnalysis.round4Stable(
          col("n_hit") / col("n_sh").cast("double")).as("contamination"))
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  /** start/last are epoch MICROseconds: `Timestamp.getTime` is
    * millisecond-truncated, and the batch sessionizer's boundaries
    * (`min(ts)`/`max(ts)`) are µs-exact — ms-truncated state would make
    * every closed session's timestamps diverge from the batch result
    * in the sub-ms digits (StreamingSpec asserts stream==batch). */
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Int,
                         total_value: Double)

  /** Custom keyed state — sessionization with an inactivity gap via
    * flatMapGroupsWithState (the brief's "custom state" surface). A
    * session closes when the user's event-time gap exceeds `gapMs`, or
    * when the state times out past the watermark. Emitted sessions are
    * final (append semantics); state size is O(1) per active user. */
  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
                 gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "1 hour"): org.apache.spark.sql.Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def update(userId: Long, rows: Iterator[SessionEvent],
               state: GroupState[SessionState]): Iterator[UserSession] = {
      // local defs, not object methods: the closure ships to executors
      // and must not capture the (non-serializable) enclosing object
      def tsToUs(t: java.sql.Timestamp): Long =
        t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
      def usToTs(us: Long): java.sql.Timestamp =
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      def toSession(s: SessionState) = UserSession(userId,
        usToTs(s.start), usToTs(s.last), s.n, s.total)
      if (state.hasTimedOut) {
        val out = state.getOption.map(toSession).iterator
        state.remove()
        return out
      }
      var closed = List.empty[UserSession]
      var cur = state.getOption
      rows.toSeq.sortBy(e => tsToUs(e.ts)).foreach { e =>
        val t = tsToUs(e.ts)
        cur match {
          case Some(s) if t - s.last <= gapMs * 1000L =>
            cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
              total = s.total + e.value))
          case Some(s) =>
            closed ::= toSession(s)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur match {
        case Some(s) =>
          state.update(s)
          // timeout API is millisecond-grained; round the µs state UP so
          // the timeout never fires a hair before the gap has elapsed
          state.setTimeoutTimestamp(Math.floorDiv(s.last + 999L, 1000L) + gapMs)
        case None => state.remove()
      }
      closed.reverseIterator
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming NEAR-duplicate pairs against a persisted MinHash index —
    * the ingestion-time shape of the incremental dedup story: a batch
    * job maintains the corpus index ([[graft.operators.Dedup
    * .saveMinhashIndex]] per corpus epoch); the live feed checks every
    * arriving document against it.
    *
    * MinHash-LSH needs a per-doc shingle aggregation and a band join
    * that Structured Streaming cannot express incrementally in one
    * continuous query, so this uses `foreachBatch` — Spark's canonical
    * hook for running a BATCH plan over each micro-batch: every batch
    * executes the exact batch operator
    * ([[graft.operators.Dedup.minhashLshPairsAcrossIndexed]]), so the
    * emitted pairs are bit-equal to batch-processing the same rows.
    * Pairs never span two incoming documents (new × corpus only), so
    * the union over micro-batches equals a one-shot batch run over the
    * same feed — asserted in StreamingSpec. The index is loaded (and
    * its build-params sidecar validated) once at wiring time; each
    * micro-batch re-scans only the pruned signature columns plus the
    * candidate-semi-joined key sets. */
  def nearDupsAgainstIndexStream(docs: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double,
      maxShinglesPerDoc: Option[Int] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val index = graft.operators.Dedup.loadMinhashIndex(
      docs.sparkSession, indexPath, maxShinglesPerDoc)
    docs.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      sink(graft.operators.Dedup.minhashLshPairsAcrossIndexed(
        batch, index, idCol, textCol, threshold, maxShinglesPerDoc), epochId)
    }
  }

  /** Streaming EXACT dedup against a persisted corpus, bloom-pruned —
    * the ingestion-time shape of [[graft.operators.Dedup
    * .exactCrossDups]]: a batch job persists the corpus fingerprint
    * table once per epoch; the live feed checks every arriving
    * document against it, with the Bloom filter (built ONCE at wiring
    * time from the stored fingerprints — numBits/8 bytes of driver
    * state) pruning each micro-batch inside scan codegen before the
    * fingerprint-confirm join. Per-batch cost ∝ batch +
    * candidate-bounded corpus reads; per-row results depend only on
    * the static corpus, so the union over micro-batches equals the
    * one-shot batch run (StreamingSpec). */
  def exactDupsAgainstCorpusStream(docs: DataFrame, corpusFpPath: String,
      idCol: String, textCol: String, numBits: Int = 1 << 20,
      numHashes: Int = 5)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = docs.sparkSession
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val cf = spark.read.parquet(corpusFpPath)
    val bloomBytes = graft.operators.Dedup
      .fingerprintBloom(cf, numBits, numHashes)
      .head().getAs[Array[Byte]](0)
    docs.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val nf = graft.operators.Dedup.fingerprints(batch, idCol, textCol)
      val cand = nf.filter(graft.functions.VectorExpressions
        .bloomMightContain(lit(bloomBytes), xxhash64(col("fp"))))
      val out = cand
        .join(cf.select(col("fp"), col("doc_id").as("corpus_doc_id")),
          Seq("fp"))
        .groupBy(col("doc_id"))
        .agg(org.apache.spark.sql.functions.min(col("corpus_doc_id"))
          .as("dup_of"))
      sink(out, epochId)
    }
  }

  /** Streaming ANN — each micro-batch of query vectors searches a
    * STATIC corpus through persisted quantizer models (the search
    * analog of [[nearDupsAgainstIndexStream]]'s dedup story): a batch
    * job trains and saves the IVF + PQ models once per corpus epoch
    * ([[graft.operators.Similarity.saveIvf]]/[[graft.operators
    * .Similarity.savePq]]); the live feed tags every arriving vector
    * with its top-k nearest stored neighbors — similarity-at-ingest
    * for retrieval/routing/near-dup triage.
    *
    * Same `foreachBatch` rationale as the near-dup stream: the ADC
    * shortlist's per-query window and the rerank join are batch plans,
    * and each result row depends only on its own query vector and the
    * static corpus, so the union over micro-batches equals the one-shot
    * batch search over the same feed (asserted in StreamingSpec).
    * Models load (and validate) once at wiring time; each micro-batch
    * pays only the probe join over its own rows. */
  def annTopKStream(queries: DataFrame, corpus: DataFrame,
      ivfPath: String, pqPath: String, idCol: String, vecCol: String,
      k: Int, nprobe: Int, candidates: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = queries.sparkSession
    val ivf = graft.operators.Similarity.loadIvf(spark, ivfPath)
    val pq = graft.operators.Similarity.loadPq(spark, pqPath)
    queries.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      sink(graft.operators.Similarity.ivfPqSearchTopK(
        batch, corpus, idCol, vecCol, ivf, pq, k, nprobe, candidates), epochId)
    }
  }

  /** [[annTopKStream]] against a PERSISTED encoded corpus
    * ([[graft.operators.Similarity.saveEncodedCorpus]]): the batch
    * epoch job trains the quantizers AND encodes the corpus once; the
    * live searcher loads models + code table at wiring time and each
    * micro-batch pays only its own query-side work (LUT build + probe
    * join + bounded rerank) — the corpus is never re-encoded, which in
    * [[annTopKStream]] happens once per micro-batch (its per-batch
    * cache dies with the batch). Same per-query independence argument,
    * so the union over micro-batches equals the one-shot encoded batch
    * search (StreamingSpec). */
  def annTopKStreamEncoded(queries: DataFrame, corpus: DataFrame,
      ivfPath: String, pqPath: String, encodedPath: String,
      idCol: String, vecCol: String,
      k: Int, nprobe: Int, candidates: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = queries.sparkSession
    val ivf = graft.operators.Similarity.loadIvf(spark, ivfPath)
    val pq = graft.operators.Similarity.loadPq(spark, pqPath)
    val encoded = graft.operators.Similarity
      .loadEncodedCorpus(spark, encodedPath, pq)
    queries.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      sink(graft.operators.Similarity.ivfPqSearchTopKEncoded(
        batch, encoded, corpus, idCol, vecCol, ivf, pq, k, nprobe,
        candidates), epochId)
    }
  }

  /** Streaming drift monitor: every micro-batch scores BOTH drift
    * statistics against a FIXED reference epoch and appends them —
    * stamped with the batch id — to metrics logs committed as
    * VersionedTable epochs (writeBatch, so a replayed batch is not
    * scored twice):
    *
    *  - per-bucket PSI terms ([[graft.operators.Drift.psi]]) under
    *    `root` — the additive score that localizes WHICH bucket
    *    drifted;
    *  - the exact KS statistic ([[graft.operators.Drift.ks]]) under
    *    `root + "_ks"` — the max-CDF-gap score that catches location
    *    shifts WITHIN a PSI bucket, which the bucketed terms cannot
    *    see between epochs.
    *
    * This is the ingest-side alarm wire: a feed whose value
    * distribution walks away from the reference shows up as a rising
    * Σ psi_term (coarse, localized) or a rising ks (fine, global) per
    * batch, before the corpus epoch is cut. Per-batch cost: one
    * grouped count over the batch + the |buckets|-row joins for PSI,
    * plus the distinct-support value walk for KS (bounded by the
    * quantized support, the integer-column contract) — the reference
    * is cached at wiring time, so both statistics fold its side from
    * memory, not a re-scan of the reference epoch. The two logs have
    * independent replay guards; a crash between the two commits
    * re-scores the batch into whichever log missed it and skips the
    * other. */
  def driftMonitorStream(events: DataFrame, root: String, ref: DataFrame,
      valCol: String, lo: Long, hi: Long, nBuckets: Int)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val ksRoot = root + "_ks"
    val refCached = ref.select(col(valCol)).cache()
    refCached.count(): Unit // materialize before the first batch
    events.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val spark = batch.sparkSession
      if (epochId > graft.sinks.VersionedTable.lastAppliedBatch(spark, root)) {
        val terms = graft.operators.Drift
          .psi(refCached, batch, valCol, lo, hi, nBuckets)
          .withColumn("batch_id", lit(epochId))
        val log =
          if (graft.sinks.VersionedTable.latestVersion(spark, root) >= 0)
            graft.sinks.VersionedTable.read(spark, root).unionByName(terms)
          else terms
        graft.sinks.VersionedTable.writeBatch(log, root, epochId): Unit
      }
      if (epochId > graft.sinks.VersionedTable.lastAppliedBatch(spark, ksRoot)) {
        val ksRow = graft.operators.Drift.ks(refCached, batch, valCol)
          .withColumn("batch_id", lit(epochId))
        val ksLog =
          if (graft.sinks.VersionedTable.latestVersion(spark, ksRoot) >= 0)
            graft.sinks.VersionedTable.read(spark, ksRoot).unionByName(ksRow)
          else ksRow
        graft.sinks.VersionedTable.writeBatch(ksLog, ksRoot, epochId): Unit
      }
    }
  }

  /** Streaming maintenance of a materialized aggregate view
    * ([[graft.operators.IncrementalAgg]] state committed as
    * [[graft.sinks.VersionedTable]] epochs): each micro-batch of
    * retraction-encoded delta rows ('I'/'D' in `opCol`) folds into the
    * committed state and commits as ONE new epoch behind the atomic
    * pointer flip — a reader always resolves a complete view, never a
    * half-applied batch. An empty table bootstraps from zero state.
    *
    * Per-batch cost ∝ |batch| + |state| (the IncrementalAgg shape) —
    * independent of how much fact history the view summarizes, which
    * is the entire point at 100 TB. Integer-exact sums make the
    * sequential micro-batch folds row-identical to one batch build
    * over the union of all deltas (IncrementalAgg associativity;
    * StreamingSpec asserts stream == one-shot). foreachBatch for the
    * same reason as the index streams above: the fold IS the batch
    * operator, run once per micro-batch. */
  /** Streaming per-group leaderboard: each micro-batch's exact top-k
    * ([[graft.functions.TopKBy]] — ≤ 2k pairs per group per partition,
    * no window sort) merges with the committed leaderboard and commits
    * as one VersionedTable epoch. Top-k is exactly mergeable (the
    * global top-k lives inside the union of partial top-ks), so the
    * stream's final state is row-identical to one batch top-k over the
    * full feed — per-batch cost ∝ batch + |groups|·k, independent of
    * feed history, the same operability argument as
    * [[incrementalAggStream]]. State is stored EXPLODED (one row per
    * kept (group, score, id)), so readers get a plain table. Rows are
    * assumed delivered once (append stream). */
  def topKStream(events: DataFrame, root: String, grpCol: String,
      scoreCol: String, idCol: String, k: Int)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val spark = batch.sparkSession
      // replay guard: foreachBatch re-delivers the last batch after a
      // restart; a fold sink must detect and skip it (writeBatch's
      // contract), or the replayed rows count twice
      if (epochId > graft.sinks.VersionedTable.lastAppliedBatch(spark, root)) {
        graft.functions.VectorExpressions.ensureRegistered(spark)
        val incoming = batch.select(col(grpCol).as("grp"),
          col(scoreCol).cast("double").as("score"), col(idCol).cast("long").as("id"))
        val state =
          if (graft.sinks.VersionedTable.latestVersion(spark, root) >= 0)
            graft.sinks.VersionedTable.read(spark, root)
          else incoming.filter(lit(false))
        val next = state.unionByName(incoming)
          .groupBy(col("grp"))
          .agg(graft.functions.VectorExpressions
            .topkBy(col("score"), col("id"), k).as("tk"))
          .select(col("grp"), explode(col("tk")).as("e"))
          .select(col("grp"), col("e.score").as("score"), col("e.id").as("id"))
        graft.sinks.VersionedTable.writeBatch(next, root, epochId): Unit
      }
    }

  /** Streaming EXPECTATIONS with a durable quarantine — the
    * DLT-expectations pattern on the graft primitives: every
    * micro-batch splits against a declarative rule suite
    * ([[graft.operators.Expectations.split]]); clean rows flow to the
    * caller's sink, violating rows land (annotated with their broken
    * rules) in a quarantine [[graft.sinks.VersionedTable]] whose
    * batch-id sidecar makes the fold replay-idempotent — a restart's
    * re-delivered batch cannot double-quarantine. Per-row decisions
    * depend only on the row, so the union over micro-batches equals
    * the one-shot batch split (StreamingSpec). The quarantine is a
    * normal epoch table: as-of readable for incident forensics,
    * vacuumed on the maintenance cadence, and its `violated_rules`
    * column names WHY each row was held — the triage loop's input. */
  def expectationsStream(rows: DataFrame, quarantineRoot: String,
      rules: Seq[graft.operators.Expectations.Expectation])(
      clean: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val spark = batch.sparkSession
      val (ok, bad) = graft.operators.Expectations.split(batch, rules)
      // quarantine first: if the job dies between the two effects, the
      // replayed batch re-runs the sink but writeBatch skips the
      // already-committed quarantine epoch (idempotent), never the
      // reverse (clean rows shipped, violations silently lost). The
      // epoch is the accumulated log (state ∪ batch — cost ∝
      // quarantine size, which staying small is the whole point), so
      // reading the current epoch reads the full quarantine.
      if (epochId > graft.sinks.VersionedTable
            .lastAppliedBatch(spark, quarantineRoot)) {
        val state =
          if (graft.sinks.VersionedTable
                .latestVersion(spark, quarantineRoot) >= 0)
            graft.sinks.VersionedTable.read(spark, quarantineRoot)
          else bad.filter(org.apache.spark.sql.functions.lit(false))
        graft.sinks.VersionedTable.writeBatch(
          state.unionByName(bad), quarantineRoot, epochId): Unit
      }
      clean(ok, epochId)
    }

  /** Streaming maintenance of the persisted INVERTED INDEX
    * ([[graft.operators.Ranking.buildInvertedIndex]]): each arriving
    * document micro-batch folds into the postings/doclen manifest
    * tables via [[graft.operators.Ranking.upsertIndexedDocs]] — new
    * doc ids insert, re-delivered or corrected ids REPLACE their rows
    * — and every `optimizeEvery` batches the postings re-cluster by
    * token so the term-probe pushdown layout survives the
    * log-structured merges. Per-batch cost ∝ the batch tokenize plus
    * the index files the batch's doc ids touch, never the corpus: the
    * live-search ingestion shape. Replay-safe WITHOUT a batch sidecar:
    * the merge is keyed by doc_id, so a re-delivered batch recommits
    * identical content (idempotent by construction — a redundant
    * version, bounded by vacuum, not a wrong one). BM25 through the
    * maintained index equals a from-scratch build on the same docs
    * (StreamingSpec). */
  def invertedIndexStream(docs: DataFrame, root: String,
      idCol: String, textCol: String, optimizeEvery: Int = 8,
      numFiles: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(optimizeEvery >= 1, "optimizeEvery must be >= 1")
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      graft.operators.Ranking.upsertIndexedDocs(batch, idCol, textCol, root)
      if (batches.incrementAndGet() % optimizeEvery == 0)
        graft.operators.Ranking.optimizeIndex(spark, root, numFiles): Unit
    }
  }

  def incrementalAggStream(deltas: DataFrame, root: String,
      keyCols: Seq[String], valCol: String, opCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deltas.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      val spark = batch.sparkSession
      // replay guard — see topKStream: a re-delivered batch would
      // double-count its deltas without the batch-id sidecar check
      if (epochId > graft.sinks.VersionedTable.lastAppliedBatch(spark, root)) {
        val state =
          if (graft.sinks.VersionedTable.latestVersion(spark, root) >= 0)
            graft.sinks.VersionedTable.read(spark, root)
          else graft.operators.IncrementalAgg.build(
            batch.filter(lit(false)), keyCols, col(valCol))
        val next = graft.operators.IncrementalAgg.applyDelta(
          state, batch, keyCols, col(valCol), col(opCol))
        graft.sinks.VersionedTable.writeBatch(next, root, epochId): Unit
      }
    }
}
