package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming operators driven synchronously through the memory sink:
  * a parquet directory feeds readStream; results must agree with the
  * equivalent batch aggregation over the same files. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val streamDir: String = {
    // stage the (nanosecond-timestamped) events file into a stream dir
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  private def eventStream = sources.Tables.eventsStream(spark, streamDir)

  /** Stream-stream interval self-join: every purchase×view containment
    * match the BATCH range join finds must be emitted by the streaming
    * join over the same rows (and nothing else) — inner stream-stream
    * join matches are final, so with all data processed the sets are
    * equal. The 300-minute eviction bound dominates the fixture's
    * longest view interval (287.3 min), so it never masks a match. */
  test("stream-stream interval join equals the batch range join") {
    import spark.implicits._
    val q = streaming.EventStreams.purchasesInViews(eventStream)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_stream")
        .as[(Long, Long, Long)].collect().toSet
      val ev = sources.Tables.events(spark, sf)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("t"))
      val iv = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) +
            floor(col("value")).cast("long") * 60000000L).as("end_us"))
      val batch = operators.RangeJoin.pointInInterval(p, iv, "user_id",
          "t", "start_us", "end_us", grain = 3600000000L)
        .select(col("purchase_id"), col("user_id"), col("view_id"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming hourly occupancy equals the batch distinct-user count") {
    val q = streaming.EventStreams.hourlyOccupancy(eventStream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("occ_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("occ_stream")
        .select("frame_ts", "event_type", "item_count")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = sources.Tables.events(spark, sf)
        .groupBy(date_trunc("hour", col("ts")).as("frame_ts"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming daily throughput equals the batch tumbling-window aggregate") {
    val q = streaming.EventStreams.dailyThroughput(eventStream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("thr_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("thr_stream").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val batch = sources.Tables.events(spark, sf)
        .groupBy(date_trunc("day", col("ts")).as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming merged throughput (entries+exits) equals the batch full-outer merge") {
    val q = streaming.EventStreams.dailyThroughputMerged(eventStream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("thr_merged").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("thr_merged").collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
      // batch ground truth: the A7-A10 shape over the same events
      val iv = sources.Tables.events(spark, sf)
        .withColumn("end_ts", timestamp_micros(
          unix_micros(col("ts")) + floor(col("value")).cast("long") * lit(60000000L)))
      val en = iv.groupBy(to_date(col("ts")).as("bucket_day"), col("event_type"))
        .agg(count(lit(1)).as("entries"))
      val ex = iv.groupBy(to_date(col("end_ts")).as("bucket_day"), col("event_type"))
        .agg(count(lit(1)).as("exits"))
      val batch = en.join(ex, Seq("bucket_day", "event_type"), "full_outer")
        .select(col("bucket_day"), col("event_type"),
          coalesce(col("entries"), lit(0L)).as("entries"),
          coalesce(col("exits"), lit(0L)).as("exits"),
          (year(col("bucket_day")) * 10000 + month(col("bucket_day")) * 100 +
            dayofmonth(col("bucket_day"))).as("bucket_n"))
        .collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
      assert(streamed == batch)
      assert(batch.nonEmpty)
      // entries and exits genuinely differ on some day (intervals shift
      // events across day boundaries), so both sides are exercised
      assert(batch.values.exists { case (en0, ex0, _) => en0 != ex0 })
    } finally q.stop()
  }

  test("streaming dedup: first-per-fingerprint kept; duplicate tagging equals batch row_number") {
    import spark.implicits._
    // coarse fingerprint so duplicates are frequent
    val fp = concat(col("event_type"), lit("_"), floor(col("value")).cast("string"))
    // 1) dropDuplicates path: the surviving key set equals batch distinct
    val q1 = streaming.EventStreams.dedupExactStream(
      eventStream.withColumn("fp", fp))
      .writeStream.outputMode("append").format("memory").queryName("dedup_stream").start()
    try {
      q1.processAllAvailable()
      val streamedKeys = spark.table("dedup_stream").select("fp")
        .as[String].collect().toSet
      val batchKeys = sources.Tables.events(spark, sf).withColumn("fp", fp)
        .select("fp").distinct().as[String].collect().toSet
      assert(streamedKeys == batchKeys)
      assert(spark.table("dedup_stream").count() == batchKeys.size)
    } finally q1.stop()
    // 2) tagging path: per-doc is_duplicate equals the batch first-seen rank
    val docs = eventStream
      .select(col("event_id").as("doc_id"), col("ts"), fp.as("fp"))
      .as[streaming.EventStreams.DocEvent]
    val q2 = streaming.EventStreams.tagDuplicates(docs)
      .writeStream.outputMode("append").format("memory").queryName("tag_stream").start()
    try {
      q2.processAllAvailable()
      val streamed = spark.table("tag_stream")
        .select("doc_id", "is_duplicate")
        .as[(Long, Boolean)].collect().toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("ts"), col("doc_id"))
      val batch = sources.Tables.events(spark, sf)
        .select(col("event_id").as("doc_id"), col("ts"), fp.as("fp"))
        .withColumn("is_dup", row_number().over(w) > 1)
        .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
      assert(streamed == batch)
      assert(streamed.values.exists(identity) && streamed.values.exists(!_),
        "expect a mix of originals and duplicates")
    } finally q2.stop()
  }

  test("stateful sessionization closes sessions at the inactivity gap") {
    import spark.implicits._
    val gap = 30 * 60 * 1000L
    val ds = streaming.EventStreams.sessionize(
      eventStream.select(col("user_id"), col("ts"), col("value"))
        .as[streaming.EventStreams.SessionEvent], gap)
    val q = ds.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val sessions = spark.table("sessions")
        .as[streaming.EventStreams.UserSession].collect()
      assert(sessions.nonEmpty, "closed sessions emitted")
      // session invariants: end >= start, no session exceeds the gap
      // between consecutive events (verified against the batch timeline)
      sessions.foreach { s =>
        assert(!s.session_end.before(s.session_start))
        assert(s.n_events >= 1)
      }
      // batch ground truth: count of gap-exceeding splits + distinct users
      // bounds the session count
      val events = sources.Tables.events(spark, sf)
        .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
        .collect().groupBy(_._1)
      val expectedClosed = events.map { case (_, evs) =>
        val ts = evs.map(_._2.getTime).sorted
        // closed sessions = splits; the final (still-open-at-watermark)
        // session may or may not have timed out
        ts.sliding(2).count(w => w.length == 2 && w(1) - w(0) > gap)
      }.sum
      assert(sessions.length >= expectedClosed,
        s"at least all gap-split sessions must close: ${sessions.length} < $expectedClosed")
    } finally q.stop()
  }

  /** The streaming sessionizer and the batch sessionizer share one
    * session definition (strictly-past-the-gap splits): every CLOSED
    * streamed session must appear verbatim in the batch result over the
    * same rows (the still-open tail session per user is the only
    * legitimate difference). */
  test("streaming sessionization agrees with the batch sessionizer") {
    import spark.implicits._
    val ds = streaming.EventStreams.sessionize(
      eventStream.select(col("user_id"), col("ts"), col("value"))
        .as[streaming.EventStreams.SessionEvent], gapMs = 30 * 60 * 1000L)
    val q = ds.writeStream.outputMode("append")
      .format("memory").queryName("sessions_vs_batch").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sessions_vs_batch")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long"), round(col("total_value"), 4))
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
        .collect().toSet
      val batch = queries.TimeSeries.sessionize(
          sources.Tables.events(spark, sf), gapSeconds = 1800L)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("total_value"))
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
        .collect().toSet
      assert(streamed.nonEmpty, "closed sessions emitted")
      val missing = streamed -- batch
      assert(missing.isEmpty,
        s"closed streamed sessions absent from the batch result: ${missing.take(3)}")
    } finally q.stop()
  }

  /** Stateless curation operators run UNCHANGED on a stream — the same
    * Chunking.chunkByTokens DataFrame program binds to readStream and
    * emits in append mode with no state store, proving the operator
    * library is execution-mode-agnostic where semantics allow. */
  test("streaming chunking equals the batch chunker on the same files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-docstream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema).parquet(dir)
    val q = operators.Chunking.chunkByTokens(stream, "doc_id", "text", 32, 8)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunk_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))).toMap
      val batch = operators.Chunking.chunkByTokens(
        sources.Tables.documents(spark, sf).select("doc_id", "text"),
        "doc_id", "text", 32, 8).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))).toMap
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  /** Stream-static join: documents stream in, the benchmark shingle set
    * is a static table — per-doc contamination computed in-flight must
    * equal the batch operator over the same files. */
  test("streaming contamination equals the batch contamination check") {
    val dir = java.nio.file.Files.createTempDirectory("graft-contstream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = sources.Tables.documents(spark, sf)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val benchSh = operators.Dedup.hashedShingleSet(bench, "doc_id", "text")
      .select("sh").distinct()
    // stream side: the training docs with a synthetic arrival time
    val stream = spark.readStream.schema(docSchema).parquet(dir)
      .filter(col("doc_id") % 97 =!= 0)
      .withColumn("ts", timestamp_micros(lit(1700000000000000L)))
    // complete mode: append would hold rows until the watermark passes
    // the window end, which a single staged micro-batch never reaches
    val q = streaming.EventStreams.contaminationStream(stream, benchSh)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cont_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cont_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      val batch = operators.CorpusQuality.contamination(train, bench, "doc_id", "text")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      assert(streamed.values.exists(_._2 > 0), "benchmark hits must occur")
    } finally q.stop()
  }

  /** foreachBatch reuse of the batch near-dup operator: incoming docs
    * stream in over MULTIPLE micro-batches, each checked against the
    * persisted MinHash index; the union of per-batch pairs must equal
    * the one-shot batch rescan over the same rows (per-new-doc
    * independence — pairs never span two incoming docs). */
  test("streaming near-dup pairs against the persisted index equal the batch run") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 7
    val idxDir = java.nio.file.Files.createTempDirectory("graft-mhidx-st")
      .toString + "/index"
    operators.Dedup.saveMinhashIndex(
      docs.filter(!isNew), "doc_id", "text", idxDir)
    // stage the incoming docs as two files; 1 file per trigger → ≥2 batches
    val newDir = java.nio.file.Files.createTempDirectory("graft-newdocs").toString
    docs.filter(isNew).select("doc_id", "text")
      .repartition(2).write.mode("overwrite").parquet(newDir)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(newDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var batches = 0
    val q = streaming.EventStreams.nearDupsAgainstIndexStream(
      stream, idxDir, "doc_id", "text", 0.5) { (pairs, _) =>
        got.synchronized { got ++= pairs.as[(Long, Long, Double)].collect(); batches += 1 }
      }.start()
    try q.processAllAvailable() finally q.stop()
    val batch = operators.Dedup.minhashLshPairsAcross(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    assert(got.size == got.toSet.size, "no pair may be emitted twice")
    assert(got.toSet == batch,
      s"streamed pairs diverged from batch:\n${got.toSet}\nvs\n$batch")
    assert(got.nonEmpty)
  }

  /** Bloom-pruned streaming exact dedup against a persisted corpus
    * fingerprint table: union of per-micro-batch results equals the
    * one-shot batch exactCrossDups over the same rows. */
  test("streaming bloom exact dedup against persisted fingerprints equals batch") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 7
    val fpDir = java.nio.file.Files.createTempDirectory("graft-fps")
      .toString + "/fps"
    operators.Dedup.fingerprints(docs.filter(!isNew), "doc_id", "text")
      .write.mode("overwrite").parquet(fpDir)
    val newDir = java.nio.file.Files.createTempDirectory("graft-newdocs2").toString
    docs.filter(isNew).select("doc_id", "text")
      .repartition(2).write.mode("overwrite").parquet(newDir)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(newDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var batches = 0
    val q = streaming.EventStreams.exactDupsAgainstCorpusStream(
      stream, fpDir, "doc_id", "text", numBits = 1 << 14) { (dups, _) =>
        got.synchronized { got ++= dups.as[(Long, Long)].collect(); batches += 1 }
      }.start()
    try q.processAllAvailable() finally q.stop()
    val batch = operators.Dedup.exactCrossDups(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text",
      numBits = 1 << 14)
      .as[(Long, Long)].collect().toSet
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    assert(got.toSet == batch,
      s"streamed dups diverged: ${got.toSet} vs $batch")
    assert(got.nonEmpty)
  }

  /** Streamed queries against the persisted IVF+PQ models: the union of
    * per-micro-batch top-k results must equal the one-shot batch search
    * over the same query rows (per-query independence). */
  test("streaming ANN against persisted quantizer models equals the batch search") {
    import spark.implicits._
    val emb = sources.Tables.embeddings(spark, sf).cache()
    val isQuery = col("vec_id") % 25 === 0
    val corpus = emb.filter(!isQuery)
    val ivf = operators.Similarity.trainIvf(corpus, "embedding", nCells = 8,
      maxIters = 4, seed = 42L)
    val pqm = operators.Similarity.trainPq(corpus, "embedding", m = 8, k = 8,
      maxIters = 4, seed = 42L)
    val modelDir = java.nio.file.Files.createTempDirectory("graft-annm").toString
    operators.Similarity.saveIvf(spark, ivf, s"$modelDir/ivf")
    operators.Similarity.savePq(spark, pqm, s"$modelDir/pq")
    // stage query vectors as two files; 1 file per trigger → ≥2 batches
    val qDir = java.nio.file.Files.createTempDirectory("graft-annq").toString
    emb.filter(isQuery).select("vec_id", "embedding")
      .repartition(2).write.mode("overwrite").parquet(qDir)
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(qSchema)
      .option("maxFilesPerTrigger", 1).parquet(qDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    var batches = 0
    val q = streaming.EventStreams.annTopKStream(
      stream, corpus, s"$modelDir/ivf", s"$modelDir/pq",
      "vec_id", "embedding", k = 3, nprobe = 8, candidates = 50) { (r, _) =>
        got.synchronized {
          got ++= r.select("query_id", "rank", "neighbor_id", "cos")
            .as[(Long, Int, Long, Double)].collect()
          batches += 1
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    val batch = operators.Similarity.ivfPqSearchTopK(
      emb.filter(isQuery), corpus, "vec_id", "embedding", ivf, pqm,
      k = 3, nprobe = 8, candidates = 50)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    assert(got.size == got.toSet.size, "no result row may be emitted twice")
    assert(got.toSet == batch,
      s"streamed ANN diverged from batch:\n${got.toSet.take(5)}... vs ${batch.take(5)}...")
    assert(got.nonEmpty)
    emb.unpersist()
  }

  test("streaming PQ-ANN against a persisted ENCODED corpus equals the batch search") {
    import spark.implicits._
    val emb = sources.Tables.embeddings(spark, sf).cache()
    val isQuery = col("vec_id") % 25 === 0
    val corpus = emb.filter(!isQuery)
    val ivf = operators.Similarity.trainIvf(corpus, "embedding", nCells = 8,
      maxIters = 4, seed = 42L)
    val pqm = operators.Similarity.trainPq(corpus, "embedding", m = 8, k = 8,
      maxIters = 4, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("graft-anne").toString
    operators.Similarity.saveIvf(spark, ivf, s"$dir/ivf")
    operators.Similarity.savePq(spark, pqm, s"$dir/pq")
    operators.Similarity.saveEncodedCorpus(corpus, "vec_id", "embedding",
      ivf, pqm, s"$dir/codes")
    // stored codes must be bit-equal to a fresh encode (determinism is
    // what licenses sharing the un-encoded variant's output contract)
    val fresh = operators.Similarity.ivfPqSearchTopK(
      emb.filter(isQuery), corpus, "vec_id", "embedding", ivf, pqm,
      k = 3, nprobe = 8, candidates = 50)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val encodedBatch = operators.Similarity.ivfPqSearchTopKEncoded(
      emb.filter(isQuery),
      operators.Similarity.loadEncodedCorpus(spark, s"$dir/codes", pqm),
      corpus, "vec_id", "embedding", ivf, pqm,
      k = 3, nprobe = 8, candidates = 50)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(encodedBatch == fresh,
      "encoded-corpus search must equal the encode-inline search")
    // a wrong-geometry model must fail fast, not mis-score
    val badPq = operators.Similarity.trainPq(corpus, "embedding", m = 4,
      k = 8, maxIters = 2, seed = 42L)
    intercept[IllegalArgumentException] {
      operators.Similarity.loadEncodedCorpus(spark, s"$dir/codes", badPq)
    }
    // streaming: two files → ≥2 micro-batches, union equals batch
    val qDir = java.nio.file.Files.createTempDirectory("graft-anneq").toString
    emb.filter(isQuery).select("vec_id", "embedding")
      .repartition(2).write.mode("overwrite").parquet(qDir)
    val qSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(qSchema)
      .option("maxFilesPerTrigger", 1).parquet(qDir)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    var batches = 0
    val q = streaming.EventStreams.annTopKStreamEncoded(
      stream, corpus, s"$dir/ivf", s"$dir/pq", s"$dir/codes",
      "vec_id", "embedding", k = 3, nprobe = 8, candidates = 50) { (r, _) =>
        got.synchronized {
          got ++= r.select("query_id", "rank", "neighbor_id", "cos")
            .as[(Long, Int, Long, Double)].collect()
          batches += 1
        }
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    assert(got.size == got.toSet.size, "no result row may be emitted twice")
    assert(got.toSet == fresh,
      s"streamed encoded ANN diverged from batch:\n${got.toSet.take(5)}...")
    emb.unpersist()
  }

  /** Streaming drift monitor: each micro-batch's PSI terms against the
    * fixed reference must equal the batch operator run on exactly that
    * batch's rows, and land stamped under its own batch id. */
  test("streaming drift monitor scores each micro-batch against the fixed reference") {
    val ev = sources.Tables.events(spark, sf)
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .select("event_id", "cents")
    val ref = ev.filter(col("event_id") % 2 === 0)
    val live = ev.filter(col("event_id") % 2 =!= 0)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-drift-src").toString
    val subsets = Seq(1L, 3L, 5L).map(m => live.filter(col("event_id") % 6 === m))
    subsets.foreach(_.coalesce(1).write.mode("append").parquet(srcDir))
    val root = java.nio.file.Files
      .createTempDirectory("graft-drift").toString + "/monitor"
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = streaming.EventStreams.driftMonitorStream(
      stream, root, ref, "cents", 0L, 49999L, 10).start()
    try q.processAllAvailable() finally q.stop()
    val log = sinks.ManifestTable.read(spark, root)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.select(col("bucket"), col("n_a"), col("n_b"), col("psi_term"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val ids = log.select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.size == 3, s"one scored entry per micro-batch, got $ids")
    val gotPerBatch = ids.map(i => shape(log.filter(col("batch_id") === i))).toSet
    val want = subsets.map(s =>
      shape(operators.Drift.psi(ref, s, "cents", 0L, 49999L, 10))).toSet
    assert(gotPerBatch == want,
      "each batch's streamed PSI must equal the batch operator on its rows")
    // the exact-KS leg: one (n_a, n_b, ks, ks_at) row per micro-batch
    // under root + "_ks", each equal to the batch operator on exactly
    // that batch's rows — location shifts INSIDE a PSI bucket are
    // invisible to the bucketed terms, so the monitor logs both
    val ksLog = sinks.ManifestTable.read(spark, root + "_ks")
    def ksShape(df: org.apache.spark.sql.DataFrame) =
      df.select(col("n_a"), col("n_b"), col("ks"), col("ks_at"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    val ksIds = ksLog.select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ksIds == ids, s"KS log must stamp the same batch ids, got $ksIds")
    val gotKs = ksIds.map(i => ksShape(ksLog.filter(col("batch_id") === i))).toSet
    val wantKs = subsets.map(s => ksShape(operators.Drift.ks(ref, s, "cents"))).toSet
    assert(gotKs == wantKs,
      "each batch's streamed KS must equal the batch operator on its rows")
  }

  /** Streaming leaderboard: per-micro-batch top-k merges must converge
    * to exactly the batch top-k over the whole feed (top-k is exactly
    * mergeable), with ties broken by id on both paths. */
  test("streaming top-k leaderboard equals the batch per-group top-k") {
    val ev = sources.Tables.events(spark, sf)
      .select(col("event_type"), col("value"), col("event_id"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft-topk-src").toString
    ev.repartition(3).write.mode("overwrite").parquet(srcDir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-topk").toString + "/board"
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = streaming.EventStreams.topKStream(
      stream, root, "event_type", "value", "event_id", k = 5).start()
    try q.processAllAvailable() finally q.stop()
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.select(col("grp"), col("score"), col("id"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSet
    val got = shape(sinks.ManifestTable.read(spark, root))
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val want = shape(ev
      .groupBy(col("event_type").as("grp"))
      .agg(graft.functions.VectorExpressions
        .topkBy(col("value"), col("event_id"), 5).as("tk"))
      .select(col("grp"), explode(col("tk")).as("e"))
      .select(col("grp"), col("e.score").as("score"), col("e.id").as("id")))
    assert(got == want && got.nonEmpty,
      s"streamed leaderboard diverged from batch top-k")
  }

  /** Streaming materialized-view maintenance: insert deltas arrive over
    * multiple micro-batches, each committing the keys it touches as one
    * new version; the final view must be row-identical to a one-shot
    * batch build, and a later retraction batch folds through the same
    * keyed path, retiring the groups whose count reaches 0. */
  test("streaming incremental aggregate: epoch folds equal the one-shot batch build") {
    import spark.implicits._
    val ev = sources.Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
      .select("event_type", "day", "cents", "event_id")
    val keys = Seq("event_type", "day")
    val srcDir = java.nio.file.Files.createTempDirectory("graft-incragg-src").toString
    ev.withColumn("op", lit("I")).repartition(3)
      .write.mode("overwrite").parquet(srcDir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-incragg").toString + "/view"
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-incragg-ckpt").toString
    def run(): Unit = {
      val q = streaming.EventStreams.incrementalAggStream(
        stream, root, keys, "cents", "op")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // one version per micro-batch, after the empty create
    assert(sinks.ManifestTable.versions(spark, root).size >= 4,
      "each micro-batch must commit its own version")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "day").collect().toSeq
    assert(rows(sinks.ManifestTable.read(spark, root)) ==
      rows(operators.IncrementalAgg.build(ev, keys, col("cents"))),
      "streamed folds must equal the one-shot build")
    // a late retraction batch folds through the same keyed path: one
    // group loses every row, so its key must leave the view
    val (gType, gDay) = ev.groupBy("event_type", "day").count()
      .orderBy("count", "event_type", "day").as[(String, java.sql.Date, Long)]
      .head() match { case (t, d, _) => (t, d) }
    val gone = col("event_type") === gType && col("day") === gDay
    ev.filter(col("event_id") % 16 === 0 || gone).withColumn("op", lit("D"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    run() // the restarted stream continues the batch ids
    val kept = ev.filter(col("event_id") % 16 =!= 0 && !gone)
    assert(rows(sinks.ManifestTable.read(spark, root)) ==
      rows(operators.IncrementalAgg.build(kept, keys, col("cents"))),
      "retraction fold must equal the rebuilt post-delete view")
    assert(sinks.ManifestTable.read(spark, root).filter(gone).isEmpty,
      "a group whose count reaches 0 must be retired, not carried")
  }

  /** Streaming expectations: per-batch split with a durable
    * accumulated quarantine — union over micro-batches equals the
    * one-shot batch split on both sides, and the quarantine rows
    * carry the names of their broken rules. */
  test("streaming expectations quarantine equals the batch split") {
    import spark.implicits._
    import operators.Expectations.Expectation
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        // plant violations: every 5th doc empties its text, every 7th
        // goes oversize
        when(col("doc_id") % 5 === 0, lit("")).otherwise(col("text"))
          .as("text"),
        when(col("doc_id") % 7 === 0, lit(100000L)).otherwise(col("n_chars"))
          .as("n_chars"))
    val rules = Seq(
      Expectation("has_text", length(col("text")) > 0),
      Expectation("sane_size", col("n_chars") < 10000L))
    val base = java.nio.file.Files
      .createTempDirectory("graft-expect-st").toString
    val inDir = s"$base/incoming"
    docs.repartition(3).write.mode("overwrite").parquet(inDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_chars", LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val gotClean = scala.collection.mutable.ArrayBuffer.empty[Long]
    val qRoot = s"$base/quarantine"
    val q = streaming.EventStreams.expectationsStream(
      stream, qRoot, rules) { (ok, _) =>
        gotClean.synchronized {
          gotClean ++= ok.select("doc_id").as[Long].collect() }
      }.start()
    try q.processAllAvailable() finally q.stop()
    val (wantClean, wantBad) = operators.Expectations.split(docs, rules)
    assert(gotClean.toSet ==
      wantClean.select("doc_id").as[Long].collect().toSet)
    assert(gotClean.size == gotClean.toSet.size, "no clean row delivered twice")
    val quarantine = sinks.ManifestTable.read(spark, qRoot)
    assert(quarantine.select("doc_id").as[Long].collect().toSet ==
      wantBad.select("doc_id").as[Long].collect().toSet)
    // every quarantined row names its broken rules, matching batch
    val gotRules = quarantine
      .select(col("doc_id"), col("violated_rules"))
      .as[(Long, Seq[String])].collect().toMap
    val wantRules = wantBad.select(col("doc_id"), col("violated_rules"))
      .as[(Long, Seq[String])].collect().toMap
    assert(gotRules == wantRules)
    assert(gotRules.values.forall(_.nonEmpty))
    // a doc violating BOTH rules carries both names
    val both = gotRules.filter(_._2.toSet == Set("has_text", "sane_size"))
    assert(both.keys.forall(id => id % 5 == 0 && id % 7 == 0))
  }

  /** An append fold sink costs its own micro-batch: ten equal batches
    * into the expectations quarantine, and the data files the 10th
    * batch's version adds (read from the manifest entries) weigh at
    * most 2× the 1st's — a sink that rewrote the accumulated log would
    * add ~10×. */
  test("append fold sinks cost O(batch): the 10th equal quarantine batch adds at most 2x the 1st's bytes") {
    import operators.Expectations.Expectation
    val base = java.nio.file.Files
      .createTempDirectory("graft-fold-cost").toString
    val inDir = s"$base/in"
    // ten equal files of 300 rows, every row violating the rule
    (0 until 10).foreach { i =>
      spark.range(i * 300L, (i + 1) * 300L)
        .select(col("id").as("doc_id"), lit("").as("text"))
        .coalesce(1).write.mode("append").parquet(inDir)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val qRoot = s"$base/quarantine"
    val q = streaming.EventStreams.expectationsStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir), qRoot,
      Seq(Expectation("has_text", length(col("text")) > 0))) { (_, _) => }
      .start()
    try q.processAllAvailable() finally q.stop()
    def files(v: Long): Map[String, Long] =
      sinks.ManifestTable.manifest(spark, qRoot, v).select("path", "size")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // version 0 is the empty create; versions 1..10 are the batches
    val vs = sinks.ManifestTable.versions(spark, qRoot)
    assert(vs == (0L to 10L), s"one version per batch: $vs")
    def added(v: Long): Long =
      (files(v) -- files(v - 1).keySet).values.sum
    assert(added(1) > 0L)
    assert(added(10) <= 2 * added(1),
      s"the 10th batch added ${added(10)} bytes, the 1st ${added(1)} — " +
        "a fold sink must not rewrite its accumulated log")
    assert(sinks.ManifestTable.read(spark, qRoot).count() == 3000L)
  }

  /** The keyed state sinks' commit: a batch-stamped keyed replace
    * retires every touched key, lands the recomputed rows (a touched
    * key absent from them leaves the table), and a replayed batch id
    * commits nothing. */
  test("keyed replace: touched keys retire, recomputed rows land, a replayed batch id commits nothing") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-keyed-replace").toString + "/t"
    sinks.ManifestTable.create(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "n"), root, Seq("k"))
    def state() = sinks.ManifestTable.read(spark, root).as[(Long, Long)]
      .collect().toSet
    val keys = Seq(2L, 3L, 4L).toDF("k")
    val rows = Seq((2L, 21L), (4L, 40L)).toDF("k", "n")
    val v = sinks.ManifestTable.replaceKeysBatch(rows, keys, root, Seq("k"), 0L)
    assert(v.contains(1L))
    assert(state() == Set((1L, 10L), (2L, 21L), (4L, 40L)))
    assert(sinks.ManifestTable.lastAppliedBatch(spark, root) == 0L)
    // the foreachBatch replay: the same id commits nothing
    assert(sinks.ManifestTable.replaceKeysBatch(
      Seq((2L, 99L)).toDF("k", "n"), Seq(2L).toDF("k"), root, Seq("k"),
      0L).isEmpty)
    assert(sinks.ManifestTable.latestVersion(spark, root) == 1L)
    assert(state() == Set((1L, 10L), (2L, 21L), (4L, 40L)))
  }

  /** Streaming inverted-index maintenance: micro-batch upserts (new
    * docs insert, corrected re-deliveries REPLACE — stale postings
    * from the old text must vanish) plus the periodic re-cluster,
    * ending row-identical to a from-scratch build of the final
    * corpus. */
  test("streaming inverted-index maintenance equals a from-scratch build") {
    val docs = sources.Tables.documents(spark, sf).select("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("graft-invidx-st").toString
    val root = s"$base/idx"
    val isNew = col("doc_id") % 5 === 2
    val isFixed = col("doc_id") % 10 === 4
    // bootstrap: stable corpus, with the to-be-corrected docs TRUNCATED
    operators.Ranking.buildInvertedIndex(
      docs.filter(!isNew).withColumn("text",
        when(isFixed, substring_index(col("text"), " ", 3))
          .otherwise(col("text"))),
      "doc_id", "text", root)
    // stream: brand-new docs + full-text corrections, several batches
    val newDir = s"$base/incoming"
    docs.filter(isNew || isFixed)
      .repartition(3).write.mode("overwrite").parquet(newDir)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(newDir)
    val q = streaming.EventStreams.invertedIndexStream(
      stream, root, "doc_id", "text", optimizeEvery = 2, numFiles = 2).start()
    try q.processAllAvailable() finally q.stop()
    val fullRoot = s"$base/full"
    operators.Ranking.buildInvertedIndex(docs, "doc_id", "text", fullRoot)
    def rows(r: String, sub: String) =
      sinks.ManifestTable.read(spark, s"$r/$sub")
    assert(rows(root, "postings").exceptAll(rows(fullRoot, "postings")).isEmpty
      && rows(fullRoot, "postings").exceptAll(rows(root, "postings")).isEmpty,
      "stream-maintained postings must equal the from-scratch build")
    assert(rows(root, "doclen").exceptAll(rows(fullRoot, "doclen")).isEmpty
      && rows(fullRoot, "doclen").exceptAll(rows(root, "doclen")).isEmpty)
    val viaStream = operators.Ranking.bm25TopKIndexed(
      spark, root, queries.LlmOps.Bm25Terms, k = 10).collect().toSeq
    val viaBuild = operators.Ranking.bm25TopKIndexed(
      spark, fullRoot, queries.LlmOps.Bm25Terms, k = 10).collect().toSeq
    assert(viaStream == viaBuild)
  }

  /** Admission control on the change-feed stream: a backlogged table
    * catches up in BOUNDED batches (maxVersionsPerTrigger) instead of
    * one giant diff — batch count and content both pinned. */
  test("graft change-feed stream: maxVersionsPerTrigger bounds each batch; catch-up content exact") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-cfs-throttle").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    sinks.ManifestTable.create(Seq((1L, "a")).toDF("k", "v"), src, Seq("k"))
    sinks.ManifestTable.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), src)
    sinks.ManifestTable.overwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), src)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("graft")
      .option("keyCols", "k").option("maxVersionsPerTrigger", 1)
      .load(src)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet(): Unit
        if (!sinks.ManifestTable.exists(spark, dst))
          sinks.ManifestTable.create(
            df.filter(col("op") =!= "D").drop("op", "seq"), dst,
            Seq("k")): Unit
        else sinks.ManifestTable.applyCdc(df, dst, Seq("k")): Unit
      }
      .start()
    q.awaitTermination()
    assert(batches.get() == 3,
      s"3 versions at 1/trigger must arrive as 3 batches, got ${batches.get()}")
    val got = sinks.ManifestTable.read(spark, dst)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // committed deltas are swept from the checkpoint scratch — a
    // long-running stream must not accumulate one dir per micro-batch
    val feed = new java.io.File(s"$base/ckpt/sources/0/graft-feed")
    val leftover = Option(feed.listFiles()).map(_.length).getOrElse(0)
    assert(leftover <= 1,
      s"committed delta materializations must be garbage-collected " +
        s"(at most the final not-yet-committed batch remains), " +
        s"found $leftover of 3")
    // a FRESH throttled stream on a VACUUMED table must bootstrap at
    // the oldest RETAINED version, not chase vacuumed version 0
    sinks.ManifestTable.vacuum(spark, src, keep = 2)
    assert(sinks.ManifestTable.versions(spark, src).head > 0L)
    val dst2 = s"$base/dst2"
    val q2 = spark.readStream.format("graft")
      .option("keyCols", "k").option("maxVersionsPerTrigger", 1)
      .load(src)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt2")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!sinks.ManifestTable.exists(spark, dst2))
          sinks.ManifestTable.create(
            df.filter(col("op") =!= "D").drop("op", "seq"), dst2,
            Seq("k")): Unit
        else sinks.ManifestTable.applyCdc(df, dst2, Seq("k")): Unit
      }
      .start()
    q2.awaitTermination()
    assert(sinks.ManifestTable.read(spark, dst2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == got,
      "a post-vacuum fresh stream must bootstrap from retained history")
  }

  /** The streaming change-feed source (`readStream.format("graft")` +
    * keyCols) driving the medallion hop: a downstream table maintained
    * PURELY from the stream must equal the source after every run —
    * bootstrap as I-rows, then version-ranged diffs — and restarting
    * the stream on the same checkpoint with no new commits must be a
    * content no-op. Runs with the source evolving by row-level ops and
    * by whole-snapshot overwrites. */
  test("graft change-feed stream: downstream maintained purely from the stream equals the source; restart is idempotent") {
    Seq("snapshot", "rowlevel").foreach { layout =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft-cfs-$layout").toString
      val src = s"$base/src"; val dst = s"$base/dst"
      val ckpt = s"$base/ckpt"
      val docs = sources.Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      sinks.ManifestTable.create(
        docs.repartitionByRange(4, col("doc_id"))
          .sortWithinPartitions(col("doc_id")), src, Seq("doc_id"))
      def srcNow = sinks.ManifestTable.read(spark, src)
      def hop(): Unit = {
        val q = spark.readStream.format("graft")
          .option("keyCols", "doc_id").load(src)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!sinks.ManifestTable.exists(spark, dst))
              sinks.ManifestTable.create(
                df.filter(col("op") =!= "D").drop("op", "seq"), dst,
                Seq("doc_id")): Unit
            else
              sinks.ManifestTable.applyCdc(df, dst, Seq("doc_id")): Unit
          }
          .start()
        q.awaitTermination()
      }
      def same(tag: String): Unit = {
        val s = srcNow; val d = sinks.ManifestTable.read(spark, dst)
        assert(d.exceptAll(s).isEmpty && s.exceptAll(d).isEmpty,
          s"[$layout/$tag] downstream must equal the source")
      }
      hop(); same("bootstrap")
      // the source evolves: an upsert and a delete, each its own commit
      val k = docs.agg(min(col("doc_id"))).head().getLong(0)
      val upd = docs.filter(col("doc_id") === k)
        .withColumn("lang", lit("zz"))
      if (layout == "rowlevel") {
        sinks.ManifestTable.merge(upd, src, Seq("doc_id"))
        sinks.ManifestTable.deleteWhere(spark, src, col("doc_id") === k + 3)
      } else {
        // the same two changes as whole-snapshot overwrites
        val upserted = docs.filter(col("doc_id") =!= k).unionByName(upd)
        sinks.ManifestTable.overwrite(upserted, src)
        sinks.ManifestTable.overwrite(
          upserted.filter(col("doc_id") =!= k + 3), src)
      }
      hop(); same("incremental")
      assert(sinks.ManifestTable.read(spark, dst)
        .filter(col("doc_id") === k).select(col("lang"))
        .head().getString(0) == "zz")
      // restart with no new commits: nothing re-delivered, content fixed
      val versionsBefore = sinks.ManifestTable.versions(spark, dst).size
      hop(); same("restart")
      assert(sinks.ManifestTable.versions(spark, dst).size == versionsBefore,
        s"[$layout] an up-to-date restart must deliver no batch")
      // the bootstrap batch was served from the snapshot's own files —
      // no full-table copy may appear under the checkpoint scratch
      // (only catch-up DIFF batches materialize there, and those are
      // swept at commit)
      val bootDirs = Option(new java.io.File(s"$ckpt/sources/0/graft-feed")
        .listFiles()).map(_.map(_.getName).toSeq).getOrElse(Nil)
      assert(!bootDirs.exists(_.startsWith("batch--1")),
        s"[$layout] bootstrap must not materialize a table copy, " +
          s"found $bootDirs")
    }
  }

  /** The native streaming SINK (`writeStream.format("graft")`): a
    * manifest table maintained by the stream itself — created on the
    * first batch, per-batch append commits, exactly-once across
    * restart redelivery via the manifest's replay marker, and readable
    * (with pruning) like any other graft table. Also the declarative
    * medallion pipe: change-feed SOURCE → graft SINK with zero user
    * code in between. */
  test("graft streaming sink: exactly-once manifest appends, created on first batch, restart is a no-op") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-sink").toString
    val srcDir = s"$base/in"; val root = s"$base/t"; val ckpt = s"$base/ckpt"
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def run(): Unit = {
      val q = spark.readStream
        .schema(docs.schema).parquet(srcDir)
        .writeStream.format("graft")
        .option("path", root).option("statsCols", "doc_id")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // wave 1
    docs.filter(col("doc_id") % 2 === 0).write.parquet(srcDir)
    run()
    val even = docs.filter(col("doc_id") % 2 === 0)
    val got1 = sinks.ManifestTable.read(spark, root)
    assert(got1.exceptAll(even).isEmpty && even.exceptAll(got1).isEmpty,
      "first wave must land exactly")
    // restart with nothing new: no batch, no version
    val vBefore = sinks.ManifestTable.latestVersion(spark, root)
    run()
    assert(sinks.ManifestTable.latestVersion(spark, root) == vBefore,
      "an up-to-date restart must commit nothing")
    // wave 2 appends
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(srcDir)
    run()
    val got2 = sinks.ManifestTable.read(spark, root)
    assert(got2.exceptAll(docs).isEmpty && docs.exceptAll(got2).isEmpty,
      "second wave must append exactly")
    // the sink's table reads like any graft table, pruning included
    assert(spark.read.format("graft").load(root).count() == docs.count())
  }

  test("append-only streaming source: bootstrap + per-version added files verbatim; a change commit fails fast naming the version; skipChangeCommits skips it") {
    import sinks.ManifestTable
    val base = java.nio.file.Files
      .createTempDirectory("graft-append-stream").toString
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    ManifestTable.create(
      spark.range(10).selectExpr("id as k", "id * 10 as v")
        .repartition(2), src, Seq("k"))
    def run(skip: Boolean = false): Unit = {
      val r = spark.readStream.format("graft")
        .option("streamMode", "append")
      val q = (if (skip) r.option("skipChangeCommits", "true") else r)
        .load(src)
        .writeStream.format("graft")
        .option("path", dst).option("statsCols", "k")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // bootstrap: the snapshot's own files, verbatim — no op/seq
    run()
    val got1 = spark.read.format("graft").load(dst)
    assert(got1.columns.toSeq == Seq("k", "v"),
      "append mode must serve rows verbatim, no control columns")
    assert(got1.count() == 10)
    // catch-up: exactly the appended rows
    ManifestTable.write(
      spark.range(10, 20).selectExpr("id as k", "id * 10 as v"), src)
    run()
    assert(spark.read.format("graft").load(dst)
      .collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      (0L until 20L).toSeq)
    // a row-level op is NOT an append: the stream fails fast naming
    // the version instead of duplicating or losing rows
    ManifestTable.deleteWhere(spark, src,
      org.apache.spark.sql.functions.col("k") < 2L)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    assert(err.getMessage.contains("NON-APPEND") ||
      Option(err.getCause).exists(_.getMessage.contains("NON-APPEND")),
      s"expected the non-append refusal, got: ${err.getMessage}")
    // skipChangeCommits: the delete commit skips, later appends flow;
    // already-delivered rows are never retracted (append semantics)
    ManifestTable.write(
      spark.range(20, 25).selectExpr("id as k", "id * 10 as v"), src)
    run(skip = true)
    val finalKs = spark.read.format("graft").load(dst)
      .collect().map(_.getAs[Long]("k")).sorted.toSeq
    assert(finalKs == (0L until 25L).toSeq,
      s"skip must pass over the change commit and keep appending: $finalKs")
    // a branch PUBLISH can adopt an ADDED file that carries its own
    // vector (the branch appended then MoR-deleted inside the new
    // file) — serving that file raw would resurrect deleted rows, so
    // the classifier must call it a change commit, not an append
    ManifestTable.createBranch(spark, src, "wip")
    val br = ManifestTable.branchRoot(src, "wip")
    // ONE multi-row file, so the MoR delete leaves survivors and a
    // real vector (a single-row file would drop whole, by reference)
    ManifestTable.write(
      spark.range(25, 30).selectExpr("id as k", "id * 10 as v")
        .repartition(1), br)
    ManifestTable.deleteWhereMor(spark, br,
      org.apache.spark.sql.functions.col("k") === 27L)
    ManifestTable.publishBranch(spark, src, "wip")
    run(skip = true) // the publish version must SKIP, not serve raw
    val afterPublish = spark.read.format("graft").load(dst)
      .collect().map(_.getAs[Long]("k")).sorted.toSeq
    assert(!afterPublish.contains(27L),
      "a skipped publish commit must never resurrect vectored-out rows")
    assert(afterPublish == (0L until 25L).toSeq,
      s"the publish (a change commit) must skip wholesale: $afterPublish")
  }

  test("startingVersion skips the bootstrap: stream-from-v ∪ batch-read-of-v-1 == full-bootstrap stream; vacuumed start fails fast; change feed and timestamps too") {
    import sinks.ManifestTable
    val base = java.nio.file.Files
      .createTempDirectory("graft-startver").toString
    val src = s"$base/src"
    // v0: 10 rows; v1: +5; v2: +5
    ManifestTable.create(
      spark.range(10).selectExpr("id as k", "id * 10 as v"), src, Seq("k"))
    ManifestTable.write(
      spark.range(10, 15).selectExpr("id as k", "id * 10 as v"), src)
    ManifestTable.write(
      spark.range(15, 20).selectExpr("id as k", "id * 10 as v"), src)
    def drain(dst: String, ckpt: String,
              opts: Map[String, String]): Unit = {
      val r0 = spark.readStream.format("graft")
        .option("streamMode", "append")
      val q = opts.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }
        .load(src)
        .writeStream.format("graft")
        .option("path", dst).option("statsCols", "k")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getAs[Long]("k")).sorted.toSeq
    // full bootstrap = the whole table
    drain(s"$base/full", s"$base/ckpt-full", Map.empty)
    // startingVersion=1: ONLY versions >= 1 stream (no bootstrap);
    // union with a batch read of the start snapshot (v0) must equal
    // the full-bootstrap stream's content
    drain(s"$base/sv", s"$base/ckpt-sv", Map("startingVersion" -> "1"))
    val svRows = spark.read.format("graft").load(s"$base/sv")
    assert(ks(svRows) == (10L until 20L).toSeq,
      "startingVersion=1 must serve exactly v1+v2's appends")
    val snapshot = spark.read.format("graft")
      .option("versionAsOf", "0").load(src)
    assert(ks(svRows.unionByName(snapshot)) ==
      ks(spark.read.format("graft").load(s"$base/full")))
    // 'latest' streams nothing until a NEW commit lands
    drain(s"$base/lat", s"$base/ckpt-lat",
      Map("startingVersion" -> "latest"))
    assert(!graft.sinks.ManifestTable.exists(spark, s"$base/lat") ||
      spark.read.format("graft").load(s"$base/lat").count() == 0L)
    ManifestTable.write(
      spark.range(20, 22).selectExpr("id as k", "id * 10 as v"), src)
    drain(s"$base/lat", s"$base/ckpt-lat", Map.empty) // restart: option inert
    assert(ks(spark.read.format("graft").load(s"$base/lat")) ==
      Seq(20L, 21L))
    // startingTimestamp: resolve to the earliest commit at-or-after
    // v2's stamp — stream v2 and the later append only
    val ts2 = ManifestTable.commitTimestamps(spark, src).toMap.apply(2L)
    drain(s"$base/ts", s"$base/ckpt-ts",
      Map("startingTimestamp" -> ts2.toString))
    assert(ks(spark.read.format("graft").load(s"$base/ts")) ==
      (15L until 22L).toSeq)
    // the keyed CHANGE FEED honors the same option: versions >= 3 as
    // keyed changes, no bootstrap
    val qcf = spark.readStream.format("graft")
      .option("keyCols", "k").option("startingVersion", "3")
      .load(src)
      .writeStream.format("memory").queryName("sv_feed")
      .option("checkpointLocation", s"$base/ckpt-cf2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    qcf.awaitTermination()
    assert(ks(spark.table("sv_feed")) == Seq(20L, 21L),
      "the change feed from v3 serves exactly v3's changes")
    // retention fail-fast: the diff from v-1 needs v-1 retained
    ManifestTable.vacuum(spark, src, keep = 1, ttlMs = 0L)
    val err = intercept[Exception] {
      drain(s"$base/gone", s"$base/ckpt-gone",
        Map("startingVersion" -> "2"))
    }
    def msg(e: Throwable): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg(err).contains("vacuumed") ||
      msg(err).contains("retained"), s"got: ${msg(err)}")
    // and a future version refuses up front
    val err2 = intercept[Exception] {
      drain(s"$base/fut", s"$base/ckpt-fut",
        Map("startingVersion" -> "99"))
    }
    assert(msg(err2).contains("future"))
  }

  test("append-only streaming source: a type widen fails fast naming the version — files appended after it carry the wider type the bootstrap schema cannot read") {
    import sinks.ManifestTable
    val base = java.nio.file.Files
      .createTempDirectory("graft-append-widen").toString
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    ManifestTable.create(
      spark.range(5).selectExpr("id as k", "cast(id * 10 as int) as v"),
      src, Seq("k"))
    def start(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft")
        .option("streamMode", "append")
        .load(src)
        .writeStream.format("graft")
        .option("path", dst).option("statsCols", "k")
        .option("mergeSchema", "true")
        .option("checkpointLocation", ckpt)
        .start()
    def msg(e: Throwable): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    // the stream resolves its read schema ONCE (v int), bootstraps,
    // and keeps running while the widen + post-widen append land —
    // the exact long-running-ingest shape the pinned schema breaks
    val q = start()
    var widenV = -1L
    try {
      q.processAllAvailable()
      assert(spark.read.format("graft").load(dst).count() == 5)
      widenV = ManifestTable.widenColumnType(spark, src, "v",
        org.apache.spark.sql.types.LongType)
      ManifestTable.write(
        spark.range(5, 10).selectExpr("id as k", "id * 10 as v"), src)
      // the next micro-batch must fail NAMING the version — not let
      // the vectorized parquet reader throw a raw column-conversion
      // error mid-batch on the wider physical type
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(30000): Unit
      }
      assert(msg(err).contains(s"schema changed at version $widenV") &&
        msg(err).contains("restart the stream"),
        s"expected the named schema-change refusal, got: ${msg(err)}")
    } finally q.stop()
    // the error's own remedy: a RESTART re-resolves the evolved
    // schema and catches up (the sink's mergeSchema widens the
    // downstream table to match)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.format("graft").load(dst)
    assert(out.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.collect().map(_.getAs[Long]("k")).sorted.toSeq ==
      (0L until 10L).toSeq,
      "the restarted stream serves exactly the post-widen appends")
    // a checkpoint that LAGS the widen (pre-widen appends unserved):
    // the restart pins the POST-widen schema and must REPLAY the
    // narrow history under it (the vectorized reader's lossless
    // upcast) — failing on the narrower old versions would wedge the
    // stream permanently, with its own "restart" advice useless
    val src2 = s"$base/src2"; val dst2 = s"$base/dst2"
    val ckpt2 = s"$base/ckpt2"
    ManifestTable.create(
      spark.range(5).selectExpr("id as k", "cast(id * 10 as int) as v"),
      src2, Seq("k"))
    def start2(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft")
        .option("streamMode", "append")
        .load(src2)
        .writeStream.format("graft")
        .option("path", dst2).option("statsCols", "k")
        .option("mergeSchema", "true")
        .option("checkpointLocation", ckpt2)
        .start()
    val qa = start2()
    try qa.processAllAvailable() finally qa.stop()
    // while the stream is DOWN: narrow append, widen, wide append
    ManifestTable.write(
      spark.range(5, 8).selectExpr("id as k", "cast(id * 10 as int) as v"),
      src2)
    ManifestTable.widenColumnType(spark, src2, "v",
      org.apache.spark.sql.types.LongType): Unit
    ManifestTable.write(
      spark.range(8, 10).selectExpr("id as k", "id * 10 as v"), src2)
    val qb = start2()
    try qb.processAllAvailable() finally qb.stop()
    val out2 = spark.read.format("graft").load(dst2)
    assert(out2.collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[Long]("v"))).sorted.toSeq ==
      (0L until 10L).map(i => (i, i * 10L)),
      "the lagging restart must replay the pre-widen appends (narrow " +
        "files upcast under the re-pinned wide schema), values exact")
  }

  test("change-feed stream: a mid-stream type widen fails fast naming the version; a restart adopts the head schema and RESUMES from the checkpoint (no re-bootstrap)") {
    import sinks.ManifestTable
    val base = java.nio.file.Files
      .createTempDirectory("graft-cf-widen").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    ManifestTable.create(
      spark.range(5).selectExpr("id as k", "cast(id * 10 as int) as v"),
      src, Seq("k"))
    // every delivered (k, v-as-long, op) across all batches — the
    // dedup-free record that proves the restart REPLAYED nothing
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String)]
    def start(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft")
        .option("keyCols", "k").load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= df.collect().map(r => (
            r.getAs[Long]("k"),
            r.getAs[Number]("v").longValue(),
            r.getAs[String]("op"))): Unit
        }
        .start()
    def msg(e: Throwable): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    // the stream pins its read schema ONCE (v int), bootstraps, and
    // KEEPS RUNNING while the widen + a wide-valued upsert land — the
    // long-running-consumer shape the pinned schema breaks
    val q = start()
    var widenV = -1L
    try {
      q.processAllAvailable()
      assert(seen.size == 5 && seen.forall(_._3 == "I"))
      widenV = ManifestTable.widenColumnType(spark, src, "v",
        org.apache.spark.sql.types.LongType)
      ManifestTable.merge(
        spark.range(2).selectExpr("id as k", "id * 10 + 7000000000 as v"),
        src, Seq("k"))
      // the catch-up batch plans THROUGH the widen commit → the diff
      // path must fail fast naming the version, not let the scratch
      // read throw a raw parquet conversion error
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(30000): Unit
      }
      assert(msg(err).contains(s"schema changed at version $widenV") &&
        msg(err).contains("restart the stream"),
        s"expected the named schema-change refusal, got: ${msg(err)}")
    } finally q.stop()
    // the refusal's own remedy: a restart re-infers the HEAD (wide)
    // schema and resumes from the checkpointed offset — the two
    // updated keys arrive as a diff with their long values; the five
    // bootstrap rows are NOT re-delivered
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.size == 7,
      s"restart must resume, not re-bootstrap: $seen")
    assert(seen.drop(5).toSet ==
      Set((0L, 7000000000L, "U"), (1L, 7000000010L, "U")),
      s"the widened diff rows, exact: ${seen.drop(5)}")
  }

  test("graft streaming sink mergeSchema: a restarted stream with new columns evolves the table; absent columns fill NULL; no opt-in refuses") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-sink-ms").toString
    val root = s"$base/t"
    // ONE source dir and ONE checkpoint throughout: each wave is a
    // RESTART of the same stream whose upstream schema changed — the
    // exactly-once replay marker stays valid (batch ids keep
    // increasing), which is exactly the deployment shape mergeSchema
    // exists for
    val src = s"$base/in"
    def wave(df: org.apache.spark.sql.DataFrame,
             mergeSchema: Boolean): Unit = {
      df.write.mode("append").parquet(src)
      val w = spark.readStream.schema(df.schema).parquet(src)
        .writeStream.format("graft")
        .option("path", root).option("statsCols", "k")
        .option("checkpointLocation", s"$base/ckpt")
      val q = (if (mergeSchema) w.option("mergeSchema", "true") else w)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // wave 1 creates (k, v); wave 2's upstream grew a column AND
    // stopped carrying v — one restarted stream exercises both sides
    wave(spark.range(5).selectExpr("id as k", "id * 10 as v"),
      mergeSchema = false)
    wave(spark.range(5, 10).selectExpr("id as k", "id as extra"),
      mergeSchema = true)
    val out = spark.read.format("graft").load(root).orderBy("k").collect()
    assert(out.length == 10)
    assert(out.take(5).forall(r => r.isNullAt(r.fieldIndex("extra"))),
      "pre-evolution rows read NULL for the new column")
    assert(out.drop(5).forall(r => r.isNullAt(r.fieldIndex("v"))),
      "the stream's absent column fills NULL")
    assert(out.drop(5).map(_.getAs[Long]("extra")).toSeq ==
      (5L until 10L).toSeq)
    // WITHOUT the option a schema change still refuses — auto-merge
    // must never be ambient in a long-lived ingest
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      wave(spark.range(10, 11).selectExpr("id as k", "id as oops"),
        mergeSchema = false)
    }
    assert(err.getMessage.contains("schema") ||
      err.getMessage.contains("oops"))
  }

  test("declarative medallion pipe: change-feed source into the graft sink, no user code between") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-pipe").toString
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    sinks.ManifestTable.create(
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")), src, Seq("doc_id"))
    val q = spark.readStream.format("graft")
      .option("keyCols", "doc_id").load(src)
      .writeStream.format("graft")
      .option("path", dst).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the sink holds the full bootstrap as I-rows (an append-only log
    // of the feed — the bronze landing shape)
    val d = sinks.ManifestTable.read(spark, dst)
    assert(d.count() == docs.count())
    assert(d.filter(col("op") =!= "I").count() == 0)
    assert(d.drop("op", "seq").exceptAll(docs).isEmpty)
  }

  /** Zero-copy bootstrap with FILE-granular admission control: a
    * fresh stream on a multi-file table drains the snapshot as
    * bounded batches of the snapshot's OWN files (op='I', seq=v
    * appended per row), never materializing a copy — the shape that
    * lets a 100 TB table bootstrap in restartable slices. */
  test("graft change-feed bootstrap: snapshot-served, maxFilesPerTrigger-bounded, I-rows exact, no scratch copy") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-boot").toString
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val laid = docs.repartitionByRange(5, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    sinks.ManifestTable.create(laid, src, Seq("doc_id")): Unit
    val nFiles = sinks.ManifestTable.filesAt(spark, src, 0).size
    assert(nFiles >= 4, s"need a multi-file table, got $nFiles")
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val badBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("graft")
      .option("keyCols", "doc_id").option("maxFilesPerTrigger", 2)
      .load(src)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet(): Unit
        // every bootstrap row is an insert stamped with the version
        if (df.filter(col("op") =!= "I" || col("seq") =!= 0).count() > 0)
          badBatches.incrementAndGet(): Unit
        if (!sinks.ManifestTable.exists(spark, dst))
          sinks.ManifestTable.create(df.drop("op", "seq"), dst,
            Seq("doc_id")): Unit
        else sinks.ManifestTable.write(df.drop("op", "seq"), dst): Unit
      }
      .start()
    q.awaitTermination()
    val expectBatches = (nFiles + 1) / 2
    assert(batches.get() == expectBatches,
      s"$nFiles files at 2/trigger must arrive as " +
        s"$expectBatches batches, got ${batches.get()}")
    assert(badBatches.get() == 0,
      s"bootstrap rows must all be op='I', seq=0")
    val d = sinks.ManifestTable.read(spark, dst)
    assert(d.exceptAll(docs).isEmpty && docs.exceptAll(d).isEmpty,
      s"sliced bootstrap must reassemble the exact table")
    // zero-copy: the feed scratch was never created for the bootstrap
    assert(!new java.io.File(s"$ckpt/sources/0/graft-feed").exists(),
      s"bootstrap slices must be served from the " +
        "snapshot's own files, not a materialized copy")
  }

  test("change-feed bootstrap of a DV-bearing snapshot: clean files zero-copy, vectored files' survivors only, then DV catch-up Ds") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-boot-dv").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    sinks.ManifestTable.create(
      spark.range(100).select(col("id").as("k"), (col("id") % 7).as("v"))
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      src, Seq("k"))
    // v1: a merge-on-read delete — exactly one of the four files gains
    // a vector; the other three must still bootstrap zero-copy
    sinks.ManifestTable.deleteWhereMor(spark, src, col("k") === 3L)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def drain(): Unit = {
      val q = spark.readStream.format("graft").option("keyCols", "k")
        .load(src)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= df.select("k", "op", "seq").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2))): Unit
        }
        .start()
      q.awaitTermination()
    }
    drain()
    assert(got.forall(x => x._2 == "I" && x._3 == 1L))
    assert(got.map(_._1).toSet == (0L until 100L).toSet - 3L,
      "the bootstrap must serve the vectored file's SURVIVORS only")
    // catch-up across another DV commit: Ds arrive for the new deletes
    got.clear()
    sinks.ManifestTable.deleteWhereMor(spark, src,
      col("k") === 11L || col("k") === 12L)
    drain()
    assert(got.toSet == Set((11L, "D", 2L), (12L, "D", 2L)),
      s"DV catch-up must emit exactly the new Ds, got ${got.toSet}")
    // the bootstrap's DV-slice scratch swept once its offset committed
    // (commit fires on the restart's cycle — the established scratch
    // contract: at most the newest not-yet-committed batch remains)
    val leftover = Option(new java.io.File(s"$ckpt/sources/0/graft-feed")
      .listFiles()).map(_.map(_.getName).toSeq).getOrElse(Nil)
    assert(!leftover.exists(_.startsWith("boot-")),
      s"bootstrap scratch must sweep at commit, found $leftover")
  }

  test("graft sink in Update mode: keyed aggregate stream folds as merge-on-read upserts; equals the batch aggregate") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-sink-upd").toString
    val in = s"$base/in"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def wave(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("append").parquet(in)
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .groupBy(col("k")).agg(sum(col("v")).as("total"))
        .writeStream.outputMode("update").format("graft")
        .option("path", dst).option("keyCols", "k")
        .option("statsCols", "k")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    wave(spark.range(30).select((col("id") % 10).as("k"), col("id").as("v")))
    drain()
    wave(spark.range(30, 50)
      .select((col("id") % 10).as("k"), col("id").as("v")))
    drain()
    val want = spark.read.schema(schema).parquet(in)
      .groupBy(col("k")).agg(sum(col("v")).as("total"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = sinks.ManifestTable.read(spark, dst).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      s"update-mode fold must equal the batch aggregate: $got vs $want")
    // the fold was merge-on-read all the way: one row per key, and the
    // sink table reads/prunes like any graft table
    assert(got.size == 10)
    assert(spark.read.format("graft").load(dst)
      .filter(col("k") === 3L).count() == 1L)
    // an up-to-date restart delivers nothing new — same content after
    drain()
    assert(sinks.ManifestTable.read(spark, dst).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
    // Update without keys is refused with the contract named
    val e = intercept[Exception] {
      spark.readStream.schema(schema).parquet(in)
        .groupBy(col("k")).agg(sum(col("v")).as("total"))
        .writeStream.outputMode("update").format("graft")
        .option("path", s"$base/dst2")
        .option("checkpointLocation", s"$base/ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    assert(e.getMessage.contains("keyCols") ||
      Option(e.getCause).exists(_.getMessage.contains("keyCols")))
  }

  test("graft sink Update mode at the equality-delete grain: keyed ingest with NO target scans; maintenance converts, results identical") {
    import sinks.ManifestTable
    val base = java.nio.file.Files
      .createTempDirectory("graft-sink-eq").toString
    val in = s"$base/in"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    // a BIG pre-existing target — 'no target scans' must be measurable
    ManifestTable.create(
      spark.range(300000).select(col("id").as("k"), lit(0L).as("v"))
        .repartitionByRange(8, col("k")).sortWithinPartitions(col("k")),
      dst, Seq("k"))
    val tableBytes = ManifestTable.manifest(spark, dst, 0)
      .agg(sum(col("size"))).head().getLong(0)
    def wave(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("append").parquet(in)
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .groupBy(col("k")).agg(sum(col("v")).as("v"))
        .writeStream.outputMode("update").format("graft")
        .option("path", dst).option("keyCols", "k")
        .option("mergeMode", "equality-delete")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // listener-counted: micro-batch commits must read the SOURCE wave
    // and their own landed footers, never the 300k-row target
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          acc.addAndGet(t.taskMetrics.inputMetrics.bytesRead): Unit
    }
    spark.sparkContext.addSparkListener(l)
    val ingested = try {
      wave(spark.range(50).select((col("id") % 40).as("k"),
        (col("id") + 1).as("v")))
      drain()
      wave(spark.range(50, 90).select((col("id") % 40).as("k"),
        (col("id") + 1).as("v")))
      drain()
      wave(spark.range(90, 100).select((col("id") % 40).as("k"),
        (col("id") + 1).as("v")))
      drain()
      spark.sparkContext.parallelize(1 to 1, 1).count() // listener barrier
      var last = -1L; var settled = 0
      while (settled < 3) {
        Thread.sleep(100)
        val cur = acc.get()
        if (cur == last) settled += 1 else { settled = 0; last = cur }
      }
      acc.get()
    } finally spark.sparkContext.removeSparkListener(l)
    assert(ingested < tableBytes / 10,
      s"three keyed micro-batches read $ingested B — the $tableBytes B " +
        "target must never scan at the equality-delete grain")
    val vPending = ManifestTable.latestVersion(spark, dst)
    assert(ManifestTable.hasPendingEq(spark, dst, vPending),
      "the eq-grain sink commits pending equality deletes")
    // content: replaced keys carry the latest aggregate, the rest of
    // the 300k rows untouched
    val want = spark.read.schema(schema).parquet(in)
      .groupBy(col("k")).agg(sum(col("v")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def read40() = ManifestTable.read(spark, dst)
      .filter(col("k") < 40L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(read40() == want,
      "the eq-grain fold must equal the batch aggregate")
    assert(ManifestTable.read(spark, dst).count() == 300000L)
    // an up-to-date restart redelivers nothing (exactly-once marker)
    drain()
    assert(ManifestTable.latestVersion(spark, dst) == vPending &&
      read40() == want, "a replayed batch must be a version no-op")
    // the maintenance tick converts eq deletes to vectors — identical
    assert(ManifestTable.compactEq(spark, dst).nonEmpty)
    assert(!ManifestTable.hasPendingEq(spark, dst,
      ManifestTable.latestVersion(spark, dst)))
    assert(read40() == want &&
      ManifestTable.read(spark, dst).count() == 300000L,
      "compaction must not change what readers see")
  }
}
