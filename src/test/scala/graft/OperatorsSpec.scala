package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-level specs for operator semantics the driver oracle can't
  * exercise: inclusive interval boundaries, multilingual language ID,
  * the stubbed multimodal decode, and LSH recall vs ground truth. */
class OperatorsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Adopt `lay` into the manifest table at `root` (per-file stats over
    * `cols`), register it for planner pruning, run `body`, unregister. */
  private def adopted[T](lay: String, root: String, cols: Seq[String])
                        (body: => T): T = {
    sinks.ManifestTable.adopt(spark, lay, root, cols): Unit
    plans.GraftTables.register(lay, root)
    try body finally plans.GraftTables.unregister(lay)
  }

  /** Files the planned scan of `df` opens, after planner pruning. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    physicalPlan(df).collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length.toLong
    }.sum
  }

  test("quantile sketch: merged epochs are bit-equal to a single pass; estimates honor the error contract") {
    import operators.QuantileSketch
    val ev = sources.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value"))
    // order-independence: 4 epoch splits, merged in a scrambled order,
    // must equal the single-pass sketch EXACTLY (bucket counts are a
    // pure function of the multiset)
    val single = QuantileSketch.sketch(ev, "event_type", "value")
      .orderBy("grp", "bucket").collect().toSeq
    val epochs = (0 until 4).map(i => QuantileSketch.sketch(
      ev.filter(pmod(col("event_id"), lit(4)) === i), "event_type", "value"))
    val merged = QuantileSketch.mergeEpochs(
      Seq(epochs(2), epochs(0), epochs(3), epochs(1)))
      .orderBy("grp", "bucket").collect().toSeq
    assert(merged == single,
      "epoch fold must be bit-equal to the single-pass sketch")
    // value-error contract: estimate within 1/128 relative + 0.01 grid
    // of the exact rank-based percentile (lower side: the rep is a
    // bucket lower edge, never above the true value at the target rank)
    val est = QuantileSketch.estimates(
      QuantileSketch.sketch(ev, "event_type", "value"), Seq(50, 95))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(4))).toMap
    val exact = ev.groupBy(col("event_type")).agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("e50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("e95"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    for ((grp, (e50, e95)) <- exact) {
      val (s50, s95) = est(grp)
      def ok(s: Double, e: Double): Boolean =
        s <= e + 1e-9 && e - s <= e / 128.0 + 0.01 + 1e-9
      assert(ok(s50, e50), s"$grp p50: sketch $s50 vs exact $e50")
      assert(ok(s95, e95), s"$grp p95: sketch $s95 vs exact $e95")
    }
    // the emitted rank-error bound is the chosen bucket's count
    val bounds = QuantileSketch.estimates(
      QuantileSketch.sketch(ev, "event_type", "value"), Seq(50))
      .select(col("n"), col("p50_rank_err")).as[(Long, Long)].collect()
    bounds.foreach { case (n, b) =>
      assert(b >= 1L && b <= n, s"rank-err bound $b out of range for n=$n")
    }
  }

  test("occupancy counts an interval ending exactly on an hour boundary (inclusive end)") {
    val hour = 3600000000L // µs
    // interval [00:30, 02:00] exactly: must appear in hours 01:00 AND 02:00
    val iv = Seq(("a", 1L, hour / 2, 2 * hour)).toDF("event_type", "user_id", "start_us", "end_us")
    val got = queries.TimeSeries.occupancyHourly(iv)
      .select(unix_micros(col("frame_ts")), col("item_count")).as[(Long, Long)]
      .collect().toMap
    assert(got == Map(hour -> 1L, 2 * hour -> 1L))
  }

  test("occupancy skips invalid (negative) intervals") {
    val iv = Seq(("a", 1L, 7200000000L, 3600000000L)).toDF("event_type", "user_id", "start_us", "end_us")
    assert(queries.TimeSeries.occupancyHourly(iv).count() == 0)
  }

  test("occupancy counts distinct users, not rows") {
    val iv = Seq(
      ("a", 1L, 0L, 3600000000L), ("a", 1L, 0L, 3600000000L),
      ("a", 2L, 0L, 3600000000L)).toDF("event_type", "user_id", "start_us", "end_us")
    val got = queries.TimeSeries.occupancyHourly(iv)
      .filter(unix_micros(col("frame_ts")) === 0L)
      .select("item_count").as[Long].head()
    assert(got == 2L)
  }

  test("langId classifies crafted multilingual snippets") {
    val df = Seq(
      (1, "the cat is in the house and it is fine"),
      (2, "der hund und die katze das ist nicht ein haus"),
      (3, "le chat est une merveille que je garde pour toi"),
      (4, "el perro y los gatos es una maravilla por siempre"),
      (5, "zzz qqq www")).toDF("id", "text")
    val got = df.select(col("id"), functions.TextAnalysis.langId(col("text")).as("l"))
      .as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "en", 2 -> "de", 3 -> "fr", 4 -> "es", 5 -> "unknown"))
  }

  test("quality score is in [0,1] and favors longer diverse text") {
    val df = Seq((1, "the the the the"), (2, ("word" +: (1 to 60).map(i => s"tok$i")).mkString(" ")))
      .toDF("id", "text")
    val got = df.select(col("id"), functions.TextAnalysis.qualityScore(col("text")))
      .as[(Int, Double)].collect().toMap
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(got(2) > got(1))
  }

  test("minhash LSH pairs are a subset of exact jaccard pairs at same threshold") {
    val docs = sources.Tables.documents(spark, sf)
    val exact = operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-duplicate pairs: ${lsh -- exact}")
    assert(lsh.nonEmpty, "LSH found no pairs — banding broken")
  }

  test("prefix-filtered jaccard equals the naive all-co-occurring-pairs plan") {
    val docs = sources.Tables.documents(spark, sf)
    val got = operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // naive: every co-occurring pair, full intersection, same rounding
    val sh = operators.Dedup.hashedShingleSet(docs, "doc_id", "text").cache()
    val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val naive = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard", round(col("c").cast("double") /
        (col("na") + col("nb") - col("c")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == naive)
    assert(got.nonEmpty)
  }

  test("SRP-LSH recovers all planted high-cosine near-dups; deterministic") {
    // 40 seeded random vectors + 5 planted near-dups of the first 5
    // (tiny noise => cos >= 0.95; SRP recall at 16x8 bands ~ 0.9998)
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val planted = (0 until 5).map { i =>
      (100L + i, base(i)._2.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val got = operators.Dedup
      .embeddingLshPairs(emb, "vec_id", "embedding", 0.9, dim = 64)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    (0 until 5).foreach { i =>
      assert(got.contains((i.toLong, 100L + i)), s"planted pair $i missed")
    }
    // only true high-cos pairs survive the exact verify
    val brute = operators.Dedup
      .embeddingPairs(emb, "vec_id", "embedding", 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute), "LSH emitted a pair the exact verify should have dropped")
    // deterministic: second run identical
    val again = operators.Dedup
      .embeddingLshPairs(emb, "vec_id", "embedding", 0.9, dim = 64)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got == again)
  }

  test("PPJoin equivalence holds on random corpora across thresholds") {
    // seeded random docs over a small vocab => dense co-occurrence, the
    // regime where prefix/length/positional filter bugs would surface
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (0 until 30).map { i =>
      val n = 3 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = operators.Dedup.jaccardPairs(docs, "doc_id", "text", t)
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val sh = operators.Dedup.hashedShingleSet(docs, "doc_id", "text")
      val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh"))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val naive = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("c"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .withColumn("jaccard", round(col("c").cast("double") /
          (col("na") + col("nb") - col("c")), 4))
        .filter(col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == naive, s"PPJoin diverged from naive at threshold $t")
      assert(t > 0.3 || got.nonEmpty, s"degenerate fixture at threshold $t")
    }
  }

  test("jaccard df-cap escape hatch prunes candidates but never invents pairs") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (0 until 30).map { i =>
      val n = 3 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val exact = operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.3)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "degenerate fixture")
    val capped = operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.3,
        maxDf = Some(5L))
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // verification is exact, so the hatch can only LOSE pairs, never add
    assert(capped.subsetOf(exact), s"df-cap invented pairs: ${capped -- exact}")
    // maxDf=1 composed with the df>=2 floor removes every candidate key
    val none = operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.3,
        maxDf = Some(1L)).count()
    assert(none == 0)
  }

  test("maxShinglesPerDoc excludes oversized docs from the verify stage") {
    // two small near-dups (bigram J = 3/5) + two big near-dups with ~200
    // distinct shingles each — the fat-row case the guard exists for
    val big1 = (1 to 200).map(i => s"tok$i").mkString(" ")
    val big2 = (1 to 200).map(i => if (i == 7) "odd" else s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"),
      (3L, big1), (4L, big2)).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val all = pairs(operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.5))
    assert(all == Set((1L, 2L), (3L, 4L)))
    val capped = pairs(operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.5,
      maxShinglesPerDoc = Some(50)))
    assert(capped == Set((1L, 2L)), s"capped docs leaked: $capped")
    // minhash: capped docs appear in neither candidates nor output
    val mh = pairs(operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5,
      maxShinglesPerDoc = Some(50)))
    assert(mh.subsetOf(Set((1L, 2L))), s"capped docs leaked via LSH: $mh")
  }

  test("bm25: hit count raises score, verbosity lowers it, rare terms weigh more") {
    val docs = Seq(
      (1L, "hash join and hash agg use a hash table"),   // 3x common term
      (2L, "hash once here"),                            // 1x common term, short
      (3L, "vector lane"),                               // 1x rare term, short
      (4L, ("filler " * 50) + "hash"),                   // 1x common term, long doc
      (5L, "no relevant words at all")).toDF("doc_id", "text")
    val got = operators.Ranking.bm25TopK(docs, "doc_id", "text",
        Seq("hash", "vector"), k = 10)
      .as[(Long, Double)].collect().toMap
    assert(!got.contains(5L), "doc without query terms must not appear")
    assert(got(1L) > got(2L), "more hits should outrank fewer at similar length")
    assert(got(2L) > got(4L), "same tf in a much longer doc should score lower")
    // 'vector' appears in 1 of 5 docs vs 'hash' in 3 of 5 -> higher idf,
    // so the single rare hit beats the single common hit
    assert(got(3L) > got(2L), "rare-term hit should outweigh common-term hit")
    assert(got.values.forall(_ > 0.0))
  }

  test("sorted_intersect_count == size(array_intersect) on random sorted arrays") {
    functions.VectorExpressions.ensureRegistered(spark)
    val rnd = new scala.util.Random(17)
    val rows = (0 until 200).map { i =>
      def arr() = Array.fill(rnd.nextInt(30))(rnd.nextInt(20).toLong).sorted
      (i.toLong, arr(), arr())
    } :+ ((1000L, Array.empty[Long], Array(1L, 2L))) // empty edge
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        functions.VectorExpressions.sortedIntersectCount(col("a"), col("b")).as("c"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .as[(Long, Int, Int)].collect()
    got.foreach { case (id, c, ref) =>
      assert(c == ref, s"row $id: merge walk $c != array_intersect $ref")
    }
    // resolvable from SQL via the session extension (cluster deploy path)
    val fresh = spark.newSession()
    val one = fresh.sql(
      "SELECT sorted_intersect_count(array(1L, 2L, 2L, 5L), array(2L, 3L, 5L))")
      .collect()(0).getInt(0)
    assert(one == 2)
  }

  test("duplicate clusters: transitive closure matches union-find, multi-round chains") {
    // a 6-node path (diameter 5 → several propagation rounds), a
    // triangle, an isolated pair — transitivity across all of them
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)).toDF("doc_a", "doc_b")
    val got = operators.Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    // driver-side union-find ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(k => k -> find(k)).toMap
    assert(got == truth, s"clusters diverged from union-find:\n$got\nvs\n$truth")
    assert(got(15L) == 10L && got(22L) == 20L && got(31L) == 30L)
    // non-convergence surfaces as an error, never a partial result
    intercept[IllegalStateException] {
      operators.Dedup.duplicateClusters(pairs, maxIters = 2).collect()
    }
  }

  test("incremental minhash dedup equals full-corpus pairs restricted to the split") {
    val docs = sources.Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 7
    val full = operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 10 == 7) != (b % 10 == 7) }
      .map { case (a, b, j) => if (a % 10 == 7) (a, b, j) else (b, a, j) }
      .toSet
    val across = operators.Dedup.minhashLshPairsAcross(
      docs.filter(isNew), docs.filter(!isNew), "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(across == full, s"cross-batch pairs diverged:\n$across\nvs\n$full")
    assert(across.nonEmpty, "the fixture split should straddle some planted near-dups")
  }

  test("persisted minhash index: indexed incremental dedup equals corpus rescan") {
    val docs = sources.Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 7
    val newDocs = docs.filter(isNew)
    val corpus = docs.filter(!isNew)
    val rescan = operators.Dedup.minhashLshPairsAcross(
      newDocs, corpus, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-mhidx").toString + "/index"
    operators.Dedup.saveMinhashIndex(corpus, "doc_id", "text", dir)
    val index = operators.Dedup.loadMinhashIndex(spark, dir)
    val indexed = operators.Dedup.minhashLshPairsAcrossIndexed(
      newDocs, index, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == rescan,
      s"indexed pairs diverged from rescan:\n$indexed\nvs\n$rescan")
    assert(indexed.nonEmpty, "the fixture split should straddle some planted near-dups")
    // the stored index row is self-contained: signature + sorted key set
    val row = index.orderBy(col("doc_id")).limit(1)
      .select(col("n_sh"), size(col("shs")).cast("long").as("n"))
      .as[(Long, Long)].head()
    assert(row._1 == row._2, "n_sh must equal the stored key-array length")
    // build-params sidecar: a cap mismatch must fail fast, not silently
    // break index-vs-rescan equality
    val ex = intercept[IllegalStateException] {
      operators.Dedup.loadMinhashIndex(spark, dir, Some(64))
    }
    assert(ex.getMessage.contains("maxShinglesPerDoc"), ex.getMessage)
  }

  test("line-level boilerplate dedup: df cap, order preserved, all-boilerplate doc survives empty") {
    val docs = Seq(
      (1L, "HEADER\nunique alpha\nmid content\nFOOTER"),
      (2L, "HEADER\nunique beta\nFOOTER"),
      (3L, "HEADER\nFOOTER"),             // all boilerplate → empty clean_text
      (4L, "  HEADER  \n\n  \nunique gamma"), // trim-identical header; blank lines dropped
      (5L, "standalone"))
      .toDF("doc_id", "text")
    // HEADER df=4, FOOTER df=3 > cap 2 → dropped; everything else df ≤ 1
    val got = operators.CorpusQuality.dropBoilerplateLines(docs, "doc_id", "text", 2L)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "unique alpha\nmid content", 2, 2),
      (2L, "unique beta", 1, 2),
      (3L, "", 0, 2),
      (4L, "unique gamma", 1, 1), // blank lines aren't counted as dropped content
      (5L, "standalone", 1, 0)))
  }

  test("snapshot diff under duplicate ids: multiset semantics, no join fan-out") {
    val prev = Seq((1L, "a"), (1L, "b"), (2L, "x"), (3L, "gone"), (5L, "s"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "b"), (1L, "a"), (2L, "x"), (2L, "x2"), (4L, "new"), (5L, "t"))
      .toDF("doc_id", "text")
    val got = operators.SnapshotDiff.diff(prev, cur, "doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // exactly ONE row per id on either side — duplicates never fan out
    assert(got == Seq(
      1L -> "unchanged", // same duplicate multiset, re-ordered
      2L -> "changed",   // a row ADDED within the id's duplicate set
      3L -> "removed",
      4L -> "added",
      5L -> "changed"))
  }

  test("int8 quantization: half-scale error bound, zero-vector guard, quantized ANN recall") {
    val vecs = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, Array(127.0f, -127.0f, 63.5f)))
      .toDF("vec_id", "embedding")
    val q = operators.Similarity.quantizeInt8(vecs, "embedding")
      .select(col("vec_id"), col("embedding"), col("q"), col("q_scale"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Float](1), r.getSeq[Byte](2), r.getDouble(3))).toMap
    // zero vector: scale pinned to 1.0, all-zero codes
    assert(q(2L)._3 == 1.0 && q(2L)._2.forall(_ == 0))
    // every reconstruction is within half a quantization step
    q.values.foreach { case (v, codes, scale) =>
      v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c.toDouble * scale) <= scale / 2 + 1e-12,
          s"err beyond scale/2: x=$x code=$c scale=$scale") }
      assert(codes.forall(c => c >= -127 && c <= 127))
    }
    // quantized ANN agrees with the float path on most of the top-5
    // (int8 over 64 dims loses little); exact agreement is NOT expected
    val emb = sources.Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") % 25 === 0)
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = topSet(operators.Similarity.bruteForceTopK(
      qs, emb, "vec_id", "embedding", 5))
    val quant = topSet(operators.Similarity.bruteForceTopKQuantized(
      qs, emb, "vec_id", "embedding", 5))
    val recall = (exact intersect quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"quantized recall@5 too low: $recall")
  }

  test("minhash index merge equals from-scratch rebuild; delta wins on re-ingested ids") {
    val docs = sources.Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 7
    val root = java.nio.file.Files.createTempDirectory("graft-mhmerge").toString
    operators.Dedup.saveMinhashIndex(docs.filter(!isNew), "doc_id", "text", root + "/e1")
    operators.Dedup.mergeMinhashIndex(spark, root + "/e1",
      docs.filter(isNew), "doc_id", "text", root + "/e2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    assert(rows(operators.Dedup.loadMinhashIndex(spark, root + "/e2")) ==
      rows(operators.Dedup.buildMinhashIndex(docs, "doc_id", "text")),
      "merged epoch must be bit-equal to rebuilding over the full corpus")
    // re-ingest a MUTATED version of the new split: delta rows replace
    // the stale index rows for those ids (last-write-wins), others stay
    val mutated = docs.filter(isNew)
      .withColumn("text", concat(col("text"), lit(" updated tail")))
    operators.Dedup.mergeMinhashIndex(spark, root + "/e2",
      mutated, "doc_id", "text", root + "/e3")
    val e3 = operators.Dedup.loadMinhashIndex(spark, root + "/e3")
    assert(rows(e3.filter(isNew)) ==
      rows(operators.Dedup.buildMinhashIndex(mutated, "doc_id", "text")))
    assert(rows(e3.filter(!isNew)) ==
      rows(operators.Dedup.buildMinhashIndex(docs.filter(!isNew), "doc_id", "text")))
    // an in-place merge must be refused (overwrite is not atomic)
    intercept[IllegalArgumentException] {
      operators.Dedup.mergeMinhashIndex(spark, root + "/e3",
        mutated, "doc_id", "text", root + "/e3")
    }
  }

  test("versioned minhash index: reader mid-rebuild stays on its epoch; merge folds through the pointer") {
    val docs = sources.Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 7
    val root = java.nio.file.Files.createTempDirectory("graft-mhver")
      .toString + "/idx"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toString).toSeq
    val v0 = operators.Dedup.saveMinhashIndexVersioned(
      docs.filter(!isNew), "doc_id", "text", root)
    assert(v0 == 0L)
    // a reader resolves the pointer NOW; its DataFrame is bound to the
    // epoch-0 directory (immutable files), not to the pointer
    val reader = operators.Dedup.loadMinhashIndexVersioned(spark, root)
    val epoch0 = rows(reader)
    // a full rebuild commits epoch 1 while that reader is live
    val v1 = operators.Dedup.saveMinhashIndexVersioned(
      docs, "doc_id", "text", root)
    assert(v1 == 1L)
    // mid-rebuild reader: still the OLD epoch, bit-for-bit
    assert(rows(reader) == epoch0,
      "a reader holding the pre-flip epoch must be undisturbed by the rebuild")
    // a fresh pointer resolution sees the new epoch
    assert(operators.Dedup.loadMinhashIndexVersioned(spark, root).count() ==
      docs.count())
    // epoch fold on a second root: merge == from-scratch rebuild
    val root2 = java.nio.file.Files.createTempDirectory("graft-mhver2")
      .toString + "/idx"
    operators.Dedup.saveMinhashIndexVersioned(
      docs.filter(!isNew), "doc_id", "text", root2)
    val v = operators.Dedup.mergeMinhashIndexVersioned(
      spark, root2, docs.filter(isNew), "doc_id", "text")
    assert(v == 1L)
    assert(rows(operators.Dedup.loadMinhashIndexVersioned(spark, root2)) ==
      rows(operators.Dedup.buildMinhashIndex(docs, "doc_id", "text")),
      "versioned merge must equal rebuilding over the full corpus")
  }

  test("chunking: overlapping windows, short tail, empty docs emit nothing") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, ""), (4L, "  "))
      .toDF("doc_id", "text")
    val got = operators.Chunking.chunkByTokens(docs, "doc_id", "text",
      chunkSize = 3, overlap = 1)
      .as[(Long, Int, String, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 0, "a b c", 3), (1L, 1, "c d e", 3), (1L, 2, "e f g", 3),
      (1L, 3, "g", 1),
      (2L, 0, "x", 1)))
  }

  test("sequence packing: running offsets slice into fixed context windows") {
    val chunks = Seq((1L, 0, 300), (1L, 1, 300), (2L, 0, 300), (3L, 0, 100))
      .toDF("doc_id", "chunk_idx", "n_chunk_tokens")
    val packed = operators.Packing.packChunks(chunks, capacity = 512, nShards = 1)
      .orderBy("doc_id", "chunk_idx")
      .select("offset", "pack_id", "pack_offset")
      .as[(Long, Long, Int)].collect().toSeq
    // one shard: concat offsets 0,300,600,900 -> windows 0,0,1,1
    assert(packed == Seq((0L, 0L, 0), (300L, 0L, 300), (600L, 1L, 88),
      (900L, 1L, 388)))
  }

  test("repetition stats: top-bigram fraction and dup-token fraction flag degenerate text") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),        // one bigram repeated 4x
      (2L, "all words here are distinct now")) // no repeated bigram
      .toDF("doc_id", "text")
    val got = operators.CorpusQuality.repetitionStats(docs, "doc_id", "text",
        flagThreshold = 0.5)
      .as[(Long, Int, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 5, 0.8, 1.0, true)))  // 4/4 identical bigrams
    assert(got(2L) == ((2L, 6, 0.0, 0.2, false))) // 5 distinct bigrams of 5
  }

  test("contamination: overlap fraction against a benchmark shingle set") {
    val train = Seq((1L, "a b c d"), (2L, "p q r")).toDF("doc_id", "text")
    val bench = Seq((100L, "b c d e")).toDF("doc_id", "text")
    val got = operators.CorpusQuality.contamination(train, bench, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // doc 1 shingles {ab, bc, cd}; bench has {bc, cd, de} -> 2/3
    assert(got(1L) == ((1L, 3L, 2L, 0.6667)))
    assert(got(2L) == ((2L, 2L, 0L, 0.0)))
  }

  test("bigram LM score: corpus-trained conditional log-probs") {
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x z"), (4L, "w"))
      .toDF("doc_id", "text")
    val got = operators.CorpusQuality.bigramLmScores(docs, "doc_id", "text")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r).toMap
    // c(x y)=2, c(x z)=1, c_head(x)=3
    assert(got(1L) == ((1L, 1, math.rint(math.log(2.0 / 3) * 1e4) / 1e4)))
    assert(got(3L) == ((3L, 1, math.rint(math.log(1.0 / 3) * 1e4) / 1e4)))
    assert(!got.contains(4L), "single-token docs have no bigram to score")
  }

  test("keep-cluster-representatives drops exactly the non-representative members") {
    val docs = (1L to 7L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val kept = operators.Dedup
      .keepClusterRepresentatives(docs, pairs, "id")
      .as[Long].collect().sorted.toSeq
    // {1,2,3} keeps 1; {5,6} keeps 5; 4 and 7 are singletons
    assert(kept == Seq(1L, 4L, 5L, 7L))
  }

  test("dedup candidate counts are published as observed metrics") {
    util.OpMetrics.install(spark)
    val docs = sources.Tables.documents(spark, sf)
    val nj = operators.Dedup.jaccardPairs(docs, "doc_id", "text", 0.5).count()
    val nm = operators.Dedup.minhashLshPairs(docs, "doc_id", "text", 0.5).count()
    val m = util.OpMetrics.await(Set("jaccard_candidates", "minhash_candidates"))
    // candidates are a superset of verified pairs; the metric is a
    // distinct SKETCH (±0.5% rsd — see the observe note in Dedup), so
    // allow the estimate that sliver below the exact pair count
    assert(m.get("jaccard_candidates").exists(_ >= (0.98 * nj).toLong),
      s"jaccard_candidates=${m.get("jaccard_candidates")} < $nj")
    assert(m.get("minhash_candidates").exists(_ >= (0.98 * nm).toLong),
      s"minhash_candidates=${m.get("minhash_candidates")} < $nm")
  }

  test("simhash byte-block join finds exactly the quadratic hamming<=3 pairs") {
    val docs = sources.Tables.documents(spark, sf).filter(col("doc_id") < 120)
    val sigs = operators.Dedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSeq
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val blocked = operators.Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(blocked == brute)
  }

  test("multimodal decode plumbing produces deterministic features per partition batch") {
    val docs = Seq((0L, "abcd"), (1L, "x" * 256), (2L, "yy")).toDF("doc_id", "text")
    val withPayload = operators.Multimodal.attachPayload(docs, "doc_id", "text")
    val feats = operators.Multimodal.decodeFeatures(withPayload)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(0L).modality == "image" && feats(0L).frames == 1)
    assert(feats(1L).modality == "audio" && feats(1L).frames == 2) // 1 + 256/256
    assert(feats(2L).modality == "video" && feats(2L).n_bytes == 2)
    assert(feats(0L).meanByte == ('a' + 'b' + 'c' + 'd') / 4.0)
  }

  test("multimodal decode handles a real PNG via javax.imageio") {
    // 2x1 image with known pixels: (255,255,255) and (0,0,30)
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xffffff)
    img.setRGB(1, 0, 0x00001e)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val png = buf.toByteArray
    val payloads = Seq((1L, "image", png), (2L, "image", "notapng".getBytes))
      .toDF("doc_id", "modality", "payload")
    val feats = operators.Multimodal.decodeFeatures(payloads)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).width == 2 && feats(1L).height == 1)
    // mean gray: (mean(255,255,255) + mean(0,0,30)) / 2 = (255 + 10) / 2
    assert(math.abs(feats(1L).meanByte - 132.5) < 1e-9)
    assert(feats(1L).n_bytes == png.length && feats(1L).frames == 1)
    // non-PNG payloads still take the deterministic stub path
    assert(feats(2L).width == 0 && feats(2L).height == 0)
    assert(feats(2L).meanByte == "notapng".getBytes
      .map(b => (b & 0xff).toDouble).sum / 7)
  }

  test("multimodal decode handles a standalone JPEG via javax.imageio") {
    // uniform 3x2 gray image: JPEG is lossy, but a constant-color frame
    // survives the DCT round trip exactly, so meanGray is checkable
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 3).foreach(x => (0 until 2).foreach(y => img.setRGB(x, y, 0x808080)))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", buf)
    val jpg = buf.toByteArray
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8,
      "encoder must have produced a real JPEG")
    // a truncated JPEG (valid magic, broken stream) must take the stub
    val badJpg = jpg.take(8)
    val payloads = Seq((1L, "image", jpg), (2L, "image", badJpg))
      .toDF("doc_id", "modality", "payload")
    val feats = operators.Multimodal.decodeFeatures(payloads)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).width == 3 && feats(1L).height == 2 && feats(1L).frames == 1)
    assert(math.abs(feats(1L).meanByte - 128.0) < 1.0, s"got ${feats(1L).meanByte}")
    assert(feats(1L).n_bytes == jpg.length)
    assert(feats(2L).width == 0, "corrupt JPEG falls back to stub")
    assert(feats(2L).meanByte == badJpg.map(b => (b & 0xff).toDouble).sum / 8)
  }

  test("multimodal decode handles a real WAV via javax.sound.sampled") {
    import javax.sound.sampled._
    // 8-bit unsigned mono PCM, 4 known samples: amplitudes 0,100,100,0
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
      8000f, 8, 1, 1, 8000f, false)
    val samples = Array[Byte](128.toByte, 228.toByte, 28.toByte, 128.toByte)
    val buf = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(
        new java.io.ByteArrayInputStream(samples), fmt, samples.length),
      AudioFileFormat.Type.WAVE, buf)
    val wav = buf.toByteArray
    // a truncated WAV and a truncated PNG must take the stub path (the
    // codecs throw mid-stream; the task must not fail)
    val badWav = wav.take(16)
    val badPng = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 0, 0)
    val payloads = Seq((1L, "audio", wav), (2L, "audio", badWav),
        (3L, "image", badPng))
      .toDF("doc_id", "modality", "payload")
    val feats = operators.Multimodal.decodeFeatures(payloads)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).frames == 4 && feats(1L).sampleRate == 8000 &&
      feats(1L).channels == 1)
    assert(math.abs(feats(1L).meanByte - 50.0) < 1e-9) // (0+100+100+0)/4
    assert(feats(1L).n_bytes == wav.length)
    assert(feats(2L).sampleRate == 0, "corrupt WAV falls back to stub")
    assert(feats(2L).meanByte == badWav.map(b => (b & 0xff).toDouble).sum / 16)
    assert(feats(3L).width == 0, "corrupt PNG falls back to stub")
    assert(feats(3L).frames == 1)
  }

  test("kmv theta sketch: exact below saturation; folds order-independent; set-op margins") {
    import operators.ThetaSketch
    // exact mode: fewer distinct keys than k → sketch IS the hash set,
    // estimates exact, intersection exact
    val a = (1 to 300).map(i => ("a", s"k$i")).toDF("g", "key")
    val b = (151 to 450).map(i => ("b", s"k$i")).toDF("g", "key")
    val sa = ThetaSketch.sketchBy(a, "g", "key", 512)
    val sb = ThetaSketch.sketchBy(b, "g", "key", 512)
    val ex = sa.select(col("kmv").as("ka"))
      .crossJoin(sb.select(col("kmv").as("kb")))
      .select(
        ThetaSketch.estimate(col("ka"), 512).as("ea"),
        ThetaSketch.intersectEstimate(col("ka"), col("kb"), 512).as("ei"),
        ThetaSketch.unionEstimate(col("ka"), col("kb"), 512).as("eu"))
      .head()
    assert(ex.getDouble(0) == 300.0)
    assert(ex.getDouble(1) == 150.0, "unsaturated intersection must be exact")
    assert(ex.getDouble(2) == 450.0, "unsaturated union must be exact")
    // fold order-independence: pairwise merge of hash-split halves ==
    // one-shot sketch == one-pass kmv_union_agg fold, bit-equal
    val big = (1 to 5000).map(i => ("g", s"item$i")).toDF("g", "key")
    val k = 128
    val one = ThetaSketch.sketchBy(big, "g", "key", k)
      .select("kmv").as[Seq[Long]].head()
    val h = pmod(xxhash64(col("key")), lit(3))
    val parts = (0 to 2).map(i =>
      ThetaSketch.sketchBy(big.filter(h === i), "g", "key", k))
    val folded = ThetaSketch.mergeEpochs(
      ThetaSketch.mergeEpochs(parts(2), parts(0), "g", k), parts(1), "g", k)
      .select("kmv").as[Seq[Long]].head()
    assert(folded == one, "pairwise epoch fold must be bit-equal to one-shot")
    val onePass = ThetaSketch.foldEpochs(
      parts.reduce(_ unionByName _), "g", k)
      .select("kmv").as[Seq[Long]].head()
    assert(onePass == one, "kmv_union_agg fold must be bit-equal to one-shot")
    // saturated estimate on known cardinality: within 3·RSE = 3/√(k−2)
    val e = ThetaSketch.sketchBy(big, "g", "key", k)
      .select(ThetaSketch.estimate(col("kmv"), k)).head().getDouble(0)
    assert(math.abs(e - 5000.0) / 5000.0 <= 3.0 / math.sqrt(k - 2.0),
      s"estimate $e outside 3·RSE of 5000")
    // gate-margin audit on the REAL gate data (sf0.01 user-days, k=512):
    // every pair's estimation error must sit well inside the gate bound
    // (spec guards at 12.5% inter / 10% union vs gate 25% / 15%;
    // observed worst 9.4% / 6.6%), so q_theta_intersect's pinned flags
    // carry >2× margin — the zero-margin-gate trap, engineered around
    val ev = sources.Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("event_type"), concat(col("user_id").cast("string"),
        lit("-"), date_format(col("ts"), "yyyyMMdd")).as("ud"))
    val sk = ThetaSketch.sketchBy(ev, "event_type", "ud", 512)
    val du = ev.distinct()
    val cnts = du.groupBy("event_type").agg(count(lit(1)).as("c"))
    val inter = du.as("x").join(du.as("y"), col("x.ud") === col("y.ud") &&
        col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
      .agg(count(lit(1)).as("ni"))
    val errs = sk.select(col("event_type").as("ta"), col("kmv").as("ka"))
      .join(sk.select(col("event_type").as("tb"), col("kmv").as("kb")),
        col("ta") < col("tb"))
      .join(inter, Seq("ta", "tb"))
      .join(cnts.select(col("event_type").as("ta"), col("c").as("ca")), Seq("ta"))
      .join(cnts.select(col("event_type").as("tb"), col("c").as("cb")), Seq("tb"))
      .select(col("ta"), col("tb"),
        (abs(ThetaSketch.intersectEstimate(col("ka"), col("kb"), 512) -
          col("ni")) / col("ni")).as("ie"),
        (abs(ThetaSketch.unionEstimate(col("ka"), col("kb"), 512) -
          (col("ca") + col("cb") - col("ni"))) /
          (col("ca") + col("cb") - col("ni"))).as("ue"))
      .collect()
    assert(errs.length == 10, "5 event types -> 10 pairs")
    val worstI = errs.map(_.getDouble(2)).max
    val worstU = errs.map(_.getDouble(3)).max
    info(f"sf0.01 worst rel err: intersect $worstI%.4f union $worstU%.4f")
    assert(worstI <= 0.125, f"intersect err $worstI%.4f eats the gate margin")
    assert(worstU <= 0.10, f"union err $worstU%.4f eats the gate margin")
  }

  test("tfidf integer gate survives past-2^63 dots and past-38-digit products") {
    // the advisor's overflow scenario: w = tf·idf_q at production scale
    // makes Σ w_a·w_b wrap a long and 10000·dot² exceed Decimal(38,0) —
    // both must stay EXACT (BigInteger kernels), not wrap or NULL
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val w = 3000000000L // 3e9: per-term product 9e18 ≈ Long.MaxValue
    val terms = 200
    val vec = (1 to terms).map(i => (i.toLong, w))
    val df = Seq((vec, vec)).toDF("va", "vb")
      .select(
        graft.functions.VectorExpressions
          .sortedPairsDot(col("va"), col("vb")).as("dot"),
        graft.functions.VectorExpressions.cosineGate(
          graft.functions.VectorExpressions
            .sortedPairsDot(col("va"), col("vb")),
          lit(BigDecimal(BigInt(w) * BigInt(w) * terms)),
          lit(BigDecimal(BigInt(w) * BigInt(w) * terms)),
          99).as("self_sim"))
    val row = df.head()
    val expected = BigInt(w) * BigInt(w) * terms // 1.8e21 — past 2^63
    assert(BigInt(row.getDecimal(0).toBigInteger) == expected,
      s"dot wrapped: ${row.getDecimal(0)} vs $expected")
    assert(row.getBoolean(1),
      "identical vectors must pass a 99% gate (10000·dot² here is ~46 digits)")
    // and a pair well below threshold must still be rejected at scale
    val half = (1 to terms / 2).map(i => (i.toLong, w)) // overlap = 50%
    val df2 = Seq((vec, half)).toDF("va", "vb").select(
      graft.functions.VectorExpressions.cosineGate(
        graft.functions.VectorExpressions
          .sortedPairsDot(col("va"), col("vb")),
        lit(BigDecimal(BigInt(w) * BigInt(w) * terms)),
        lit(BigDecimal(BigInt(w) * BigInt(w) * (terms / 2))),
        80).as("g"))
    assert(!df2.head().getBoolean(0),
      "cos = sqrt(0.5) ≈ 0.707 must fail an 80% gate")
  }

  test("multimodal decode walks FLAC STREAMINFO and MP3 frame headers") {
    // FLAC: "fLaC" + one STREAMINFO block (last=1, type=0, len=34):
    // blocksizes, framesizes, then the 64-bit field packing
    // rate(20)|ch-1(3)|bps-1(5)|samples(36), then the md5
    val info64 = (44100L << 44) | (1L << 41) | (15L << 36) | 88200L
    val flac: Array[Byte] = "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++
      Array[Byte](0x12, 0x00, 0x12, 0x00) ++ Array.fill[Byte](6)(0) ++
      (0 until 8).map(i => ((info64 >>> (56 - 8 * i)) & 0xff).toByte).toArray ++
      Array.fill[Byte](16)(0)
    // MP3: 3 × MPEG1 Layer III frames, 128 kbps @ 44100 stereo, no
    // padding → frame length 144000·128/44100 = 417 bytes; prefix an
    // empty ID3v2 tag so the tag-skip path is exercised too
    val frame = Array(0xff, 0xfb, 0x90, 0x00).map(_.toByte) ++
      Array.fill(413)(0.toByte)
    val id3 = "ID3".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 0, 0, 0)
    val mp3 = id3 ++ frame ++ frame ++ frame
    // a lone sync-looking pair must NOT count as audio (< 2 frames)
    val fake = Array(0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00.toByte) ++
      Array.fill(20)(0x41.toByte)
    val payloads = Seq((1L, "audio", flac), (2L, "audio", mp3),
        (3L, "audio", fake), (4L, "audio", flac.take(12)))
      .toDF("doc_id", "modality", "payload")
    val feats = operators.Multimodal.decodeFeatures(payloads)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).frames == 88200 && feats(1L).sampleRate == 44100 &&
      feats(1L).channels == 2)
    assert(feats(2L).frames == 3 && feats(2L).sampleRate == 44100 &&
      feats(2L).channels == 2)
    assert(feats(3L).sampleRate == 0, "false sync must fall back to stub")
    assert(feats(4L).sampleRate == 0, "truncated FLAC falls back to stub")
  }

  test("multimodal decode parses a real AVI container header") {
    def u32le(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    // minimal RIFF/AVI: LIST hdrl containing a 56-byte avih chunk
    val avih = u32le(33333) ++ u32le(0) ++ u32le(0) ++ u32le(0) ++
      u32le(10) ++ u32le(0) ++ u32le(0) ++ u32le(0) ++       // dwTotalFrames=10
      u32le(320) ++ u32le(240) ++ Array.fill(16)(0.toByte)   // 320x240
    val hdrl = cc("hdrl") ++ cc("avih") ++ u32le(avih.length) ++ avih
    val list = cc("LIST") ++ u32le(hdrl.length) ++ hdrl
    val avi = cc("RIFF") ++ u32le(4 + list.length) ++ cc("AVI ") ++ list
    val payloads = Seq((1L, "video", avi), (2L, "video", avi.take(20)))
      .toDF("doc_id", "modality", "payload")
    val feats = operators.Multimodal.decodeFeatures(payloads)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).frames == 10 && feats(1L).width == 320 &&
      feats(1L).height == 240)
    // truncated container falls back to the stub frame heuristic
    assert(feats(2L).width == 0 && feats(2L).frames == 1 + 20 / 64)
  }

  test("audio envelope hash: gain-invariant, reversed envelope distinct, corrupt dropped") {
    import javax.sound.sampled._
    def wav16(samples: Array[Short]): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        8000f, 16, 1, 2, 8000f, false)
      val bytes = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        bytes(2 * i) = (samples(i) & 0xff).toByte
        bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val buf = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length),
        AudioFileFormat.Type.WAVE, buf)
      buf.toByteArray
    }
    // 65 seeded segment levels, 10 samples each: the envelope IS the
    // level sequence, so its rise bits are known to be irregular
    val rnd = new scala.util.Random(11)
    val lvl = Array.fill(65)(rnd.nextInt(8000) + 100)
    val base = Array.tabulate(650)(i => lvl(i / 10).toShort)
    val doubled = base.map(s => (s * 2).toShort) // exact 2x gain, no clip
    val payloads = Seq(
      (1L, wav16(base)), (2L, wav16(doubled)),
      (3L, wav16(base.reverse)), (4L, wav16(base).take(16)))
      .toDF("doc_id", "payload")
    val hashes = operators.Multimodal.audioHashes(payloads)
    val h = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.size == 3, "corrupt payload must be dropped, not hashed")
    assert(h(1L) == h(2L), "uniform gain must not change the envelope hash")
    assert(h(1L) != h(3L), "a reversed envelope is a different signal")
    val pairs = operators.Multimodal.audioNearDupPairs(hashes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 0)), s"gain pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "reversed envelope must not pair at hamming <= 3")
  }

  test("multimodal decode walks an MP4 (ISO-BMFF) box tree to the visual track") {
    def u32be(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def box(name: String, payload: Array[Byte]): Array[Byte] =
      u32be(8L + payload.length) ++ cc(name) ++ payload
    // tkhd v0 payload: v/f(4) ctime(4) mtime(4) id(4) res(4) dur(4)
    // res(8) layer(2) alt(2) vol(2) res(2) matrix(36) → width@76 (16.16)
    def tkhd(w: Int, h: Int): Array[Byte] =
      box("tkhd", Array.fill(76)(0.toByte) ++
        u32be(w.toLong << 16) ++ u32be(h.toLong << 16))
    def stts(runs: (Int, Int)*): Array[Byte] =
      box("stts", u32be(0) ++ u32be(runs.length.toLong) ++
        runs.toArray.flatMap { case (n, d) => u32be(n.toLong) ++ u32be(d.toLong) })
    def trak(header: Array[Byte], sampleTable: Array[Byte]): Array[Byte] =
      box("trak", header ++ box("mdia", box("minf", box("stbl", sampleTable))))
    val ftyp = box("ftyp", cc("isom") ++ u32be(512) ++ cc("isom") ++ cc("mp41"))
    // audio track FIRST: its 999-sample stts must not be captured — the
    // capture window only opens at a visual (nonzero-dimension) tkhd
    val moov = box("moov", box("mvhd", Array.fill(100)(0.toByte)) ++
      trak(tkhd(0, 0), stts((999, 1))) ++
      trak(tkhd(320, 240), stts((10, 100), (5, 200))))
    val mp4 = ftyp ++ moov
    val payloads = Seq((1L, "video", mp4), (2L, "video", mp4.take(30)))
      .toDF("doc_id", "modality", "payload")
    val feats = operators.Multimodal.decodeFeatures(payloads)
      .collect().map(f => f.doc_id -> f).toMap
    // frames = Σ stts sample counts of the VISUAL track (10+5), not 999
    assert(feats(1L).frames == 15 && feats(1L).width == 320 &&
      feats(1L).height == 240)
    // truncated container falls back to the stub frame heuristic
    assert(feats(2L).width == 0 && feats(2L).frames == 1 + 30 / 64)
  }

  test("multimodal decode reads real MJPEG pixels from an AVI movi list") {
    def u32le(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(fourcc: String, data: Array[Byte]): Array[Byte] =
      cc(fourcc) ++ u32le(data.length) ++ data ++
        (if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    // a uniform mid-gray 8x4 JPEG frame (lossy, but flat fields survive)
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8) img.setRGB(x, y, 0x646464) // (100,100,100)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", buf)
    val jpeg = buf.toByteArray
    val avih = u32le(33333) ++ u32le(0) ++ u32le(0) ++ u32le(0) ++
      u32le(2) ++ u32le(0) ++ u32le(0) ++ u32le(0) ++
      u32le(8) ++ u32le(4) ++ Array.fill(16)(0.toByte)
    val hdrl = cc("LIST") ++ u32le(4 + chunk("avih", avih).length) ++
      cc("hdrl") ++ chunk("avih", avih)
    val movi = {
      val frames = chunk("00dc", jpeg) ++ chunk("00dc", jpeg)
      cc("LIST") ++ u32le(4 + frames.length) ++ cc("movi") ++ frames
    }
    val body = cc("AVI ") ++ hdrl ++ movi
    val avi = cc("RIFF") ++ u32le(body.length) ++ body
    val payloads = Seq((1L, "video", avi)).toDF("doc_id", "modality", "payload")
    val f = operators.Multimodal.decodeFeatures(payloads).collect().head
    // frames counted from the movi chunks, dims and mean from REAL
    // decoded pixels (JPEG-lossy: the flat gray field stays within ~2)
    assert(f.frames == 2 && f.width == 8 && f.height == 4)
    assert(math.abs(f.meanByte - 100.0) < 2.0,
      s"expected ~100 gray from decoded MJPEG pixels, got ${f.meanByte}")
  }

  test("multimodal resize + frame-sample plumbing: deterministic shapes") {
    val docs = Seq((2L, "v" * 200), (5L, "w" * 64), (8L, "z" * 10))
      .toDF("doc_id", "text") // all doc_id % 3 == 2 -> video
    val payloads = operators.Multimodal.attachPayload(docs, "doc_id", "text")
    // resize: output bounded by target dims, every-stride sampling
    val resized = operators.Multimodal.resizePayloads(payloads, 4, 4)
      .collect().map(r => r.doc_id -> r).toMap
    assert(resized(2L).n_bytes_out == 16) // 200 bytes, stride 12 -> 16 kept
    assert(resized(8L).n_bytes_out == 10) // smaller than target: all kept
    assert(resized(2L).sample_sum == 16L * 'v'.toLong)
    // frame-sample: frames = ceil(len/64); every 4th kept; an
    // exact-multiple payload has NO empty trailing frame
    val frames = operators.Multimodal.sampleFrames(payloads, everyN = 4)
      .select("doc_id", "n_frames", "sample_idx", "frame_bytes")
      .as[(Long, Int, Int, Int)].collect()
    val byDoc = frames.groupBy(_._1)
    assert(byDoc(2L).map(_._2).head == 4) // ceil(200/64)
    assert(byDoc(2L).map(_._3).toSet == Set(0)) // frames 0..3, sampled {0}
    assert(byDoc(2L).head._4 == 64)
    assert(byDoc(5L).head._2 == 1 && byDoc(5L).length == 1) // 64 bytes = exactly 1 frame
    assert(byDoc(5L).head._4 == 64, "the single exact frame is full, not empty")
  }

  test("ANN brute-force top-k self-consistency: rank 1 has max cosine") {
    val emb = sources.Tables.embeddings(spark, sf)
    val topk = operators.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", 5)
      .select("rank", "cos").as[(Int, Double)].collect().sortBy(_._1)
    assert(topk.length == 5)
    assert(topk.map(_._2).toSeq == topk.map(_._2).sorted(Ordering[Double].reverse).toSeq)
  }

  test("IVF k-means: recall@5 >= 0.9 at nprobe=6/8, exact at exhaustive probe, deterministic") {
    val emb = sources.Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val model = operators.Similarity.trainIvf(emb, "embedding", nCells = 8,
      maxIters = 5, seed = 42L)
    assert(model.nCells == 8)
    // deterministic: same seed -> bit-identical centroids
    val model2 = operators.Similarity.trainIvf(emb, "embedding", nCells = 8,
      maxIters = 5, seed = 42L)
    assert(model.centroids.zip(model2.centroids).forall {
      case (a, b) => a.sameElements(b) })
    // centroids are unit-norm (spherical k-means)
    model.centroids.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9) }

    val exact = operators.Similarity.bruteForceTopK(queries, emb,
      "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallAt(nprobe: Int): Double = {
      val approx = operators.Similarity.ivfSearchTopK(queries, emb,
        "vec_id", "embedding", model, 5, nprobe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, truth) =>
        approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }.sum / exact.size
    }
    // this corpus is near-uniform in cosine space (no geometric
    // clusters), the hardest case for IVF: recall tracks the scanned
    // fraction. The quantizer must still (a) clear 0.9 below exhaustive
    // and (b) beat random cell selection (recall >> nprobe/nCells).
    val r6 = recallAt(6)
    assert(r6 >= 0.9, s"recall@5 at nprobe=6/8 was $r6")
    val r2 = recallAt(2)
    assert(r2 >= 0.4, s"recall@5 at nprobe=2/8 was $r2 (random-scan baseline 0.25)")

    // exhaustive probe is exact: nprobe = nCells == brute force
    val exhaustive = operators.Similarity.ivfSearchTopK(queries, emb,
      "vec_id", "embedding", model, 5, nprobe = model.nCells)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    val brute = operators.Similarity.bruteForceTopK(queries, emb,
      "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(exhaustive == brute)
  }

  test("as-of join picks the latest right row at-or-before, null when none") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "o1"),
                   (1L, ts("2024-01-01 12:00:00"), "o2"),
                   (2L, ts("2024-01-01 09:00:00"), "o3"))
      .toDF("k", "lt", "name")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 100L), // exact tie: counts (<=)
                    (1L, ts("2024-01-01 11:00:00"), 101L),
                    (2L, ts("2024-01-01 09:30:00"), 102L)) // after o3: no match
      .toDF("k", "rt", "rid")
    val got = operators.AsOf.asofJoinLeft(left, right, "k", "lt", "rt", Seq("rid"))
      .select("name", "asof_rid").as[(String, Option[Long])].collect().toMap
    assert(got == Map("o1" -> Some(100L), "o2" -> Some(101L), "o3" -> None))
  }

  test("zero-norm embeddings never match or rank (cos is null, not NaN)") {
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0.01f)), (3L, Array(0f, 0f)))
      .toDF("vec_id", "embedding")
    val pairs = operators.Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.5)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"zero vector leaked into pairs: $pairs")
    val topk = operators.Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect()
    // the zero vector is neither a neighbor of anything nor a ranked query
    assert(!topk.exists(_._3 == 3L), "zero vector ranked as a neighbor")
    assert(topk.filter(_._1 == 1L).map(_._3).head == 2L)
  }

  test("stage-number normalization survives NaN/Infinity under ANSI") {
    val df = Seq(
      (1L, Some(2.6)), (2L, None), (3L, Some(Double.NaN)),
      (4L, Some(Double.PositiveInfinity)), (5L, Some(-7.2)))
      .toDF("id", "n")
    val got = df.select(col("id"),
        functions.Scalars.normalizeStageNumber(col("n")).as("p21"),
        functions.Scalars.normalizeStageNumberOrNull(col("n")).as("p22"))
      .as[(Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, Some(3L))))
    assert(got(2L) == ((1L, None)))
    assert(got(3L) == ((1L, None)))
    assert(got(4L) == ((1L, None)))
    assert(got(5L) == ((1L, Some(-7L))))
  }

  test("hash split: append-stable, partitioning-independent, ~weight-proportioned") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val base = (0L until 1000L).toDF("id")
    val a = operators.Sampling.splitByHash(base, "id", splits)
      .as[(Long, String)].collect().toMap
    // appending rows never moves existing ones
    val grown = operators.Sampling.splitByHash(
      (0L until 2000L).toDF("id"), "id", splits).as[(Long, String)].collect().toMap
    assert(a.forall { case (k, v) => grown(k) == v })
    // repartitioning never changes membership (df.sample breaks this)
    val shuffled = operators.Sampling.splitByHash(
      base.repartition(7), "id", splits).as[(Long, String)].collect().toMap
    assert(shuffled == a)
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("test") > 50)
    // sampleByHash(f) == the rows below the f bound
    val s = operators.Sampling.sampleByHash(base, "id", 0.1)
      .as[Long].collect().toSet
    assert(s.nonEmpty && s.size < 200)
    assert(operators.Sampling.sampleByHash(base.repartition(3), "id", 0.1)
      .as[Long].collect().toSet == s)
  }

  test("stratified sampling: per-stratum fractions, append-stable, salt independence") {
    val df = (0L until 3000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val kept = operators.Sampling.stratifiedSampleByHash(df, "id", "lang",
      Map("en" -> 0.2, "de" -> 0.9)).as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang("en") > 120 && byLang("en") < 280, s"en kept ${byLang("en")}/1000 at 0.2")
    assert(byLang("de") > 1700 && byLang("de") < 1950, s"de kept ${byLang("de")}/2000 at 0.9")
    // unlisted strata drop by default; defaultFraction keeps them
    assert(operators.Sampling.stratifiedSampleByHash(df, "id", "lang",
      Map("en" -> 0.2)).filter(col("lang") === "de").count() == 0)
    assert(operators.Sampling.stratifiedSampleByHash(df, "id", "lang",
      Map.empty, defaultFraction = 1.0).count() == 3000)
    // append + repartition never change membership
    val again = operators.Sampling.stratifiedSampleByHash(
      (0L until 6000L).map(i => (i, if (i % 3 == 0) "en" else "de"))
        .toDF("id", "lang").repartition(7), "id", "lang",
      Map("en" -> 0.2, "de" -> 0.9)).as[(Long, String)].collect()
    assert(kept.toSet.subsetOf(again.toSet))
  }

  test("range join: inclusive bounds, bucket-boundary spans, no dup pairs") {
    val points = Seq((1L, 100L, "p1"), (1L, 250L, "p2"), (2L, 100L, "p3"))
      .toDF("k", "t", "pname")
    val ivs = Seq(
      (1L, 100L, 250L, "a"),  // inclusive both ends: catches p1 AND p2
      (1L, 90L, 99L, "b"),    // just misses p1
      (1L, 0L, 1000L, "c"),   // spans many buckets: still one pair each
      (2L, 300L, 200L, "d"))  // inverted: never matches
      .toDF("k", "s", "e", "iname")
    val got = operators.RangeJoin.pointInInterval(points, ivs, "k",
      "t", "s", "e", grain = 10L)
      .select("pname", "iname").as[(String, String)].collect()
    assert(got.length == got.distinct.length, "duplicate pairs emitted")
    assert(got.toSet == Set(("p1", "a"), ("p2", "a"), ("p1", "c"), ("p2", "c")))
  }

  test("as-of tie on (key, time): greatest payload wins, both directions") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "o1")).toDF("k", "lt", "name")
    // three right rows at the SAME (key, time) with different payloads:
    // the defined winner is the lexicographically greatest (rid, tag)
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 7L, "a"),
      (1L, ts("2024-01-01 09:00:00"), 9L, "b"),
      (1L, ts("2024-01-01 09:00:00"), 9L, "z"))
      .toDF("k", "rt", "rid", "tag")
    val back = operators.AsOf.asofJoinLeft(left, right, "k", "lt", "rt",
      Seq("rid", "tag")).select("asof_rid", "asof_tag")
      .as[(Long, String)].head()
    assert(back == ((9L, "z")), s"backward tie pick was $back")
    val fwd = operators.AsOf.asofJoinLeft(
      left.withColumn("lt", lit(ts("2024-01-01 08:00:00"))), right,
      "k", "lt", "rt", Seq("rid", "tag"), direction = "forward")
      .select("asof_rid", "asof_tag").as[(Long, String)].head()
    assert(fwd == ((9L, "z")), s"forward tie pick was $fwd")
  }

  test("as-of forward direction and tolerance bound the match window") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "o1"),
                   (1L, ts("2024-01-01 12:00:00"), "o2"),
                   (2L, ts("2024-01-01 09:00:00"), "o3"))
      .toDF("k", "lt", "name")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 100L), // tie: matches forward too
                    (1L, ts("2024-01-01 13:30:00"), 101L),
                    (2L, ts("2024-01-01 08:00:00"), 102L)) // before o3: no fwd match
      .toDF("k", "rt", "rid")
    val fwd = operators.AsOf.asofJoinLeft(left, right, "k", "lt", "rt",
      Seq("rid"), direction = "forward")
      .select("name", "asof_rid").as[(String, Option[Long])].collect().toMap
    assert(fwd == Map("o1" -> Some(100L), "o2" -> Some(101L), "o3" -> None))
    // 1h tolerance: o2's nearest future right is 1.5h away -> nulled
    val tol = operators.AsOf.asofJoinLeft(left, right, "k", "lt", "rt",
      Seq("rid"), direction = "forward", tolerance = Some(3600.0))
      .select("name", "asof_rid").as[(String, Option[Long])].collect().toMap
    assert(tol == Map("o1" -> Some(100L), "o2" -> None, "o3" -> None))
    // backward tolerance on the original fixture: o2 matched 11:00 (1h) - kept
    // at 1h, dropped at 30min
    val right0 = Seq((1L, ts("2024-01-01 10:00:00"), 100L),
                     (1L, ts("2024-01-01 11:00:00"), 101L))
      .toDF("k", "rt", "rid")
    val bt = operators.AsOf.asofJoinLeft(left, right0, "k", "lt", "rt",
      Seq("rid"), tolerance = Some(1800.0))
      .select("name", "asof_rid").as[(String, Option[Long])].collect().toMap
    assert(bt == Map("o1" -> Some(100L), "o2" -> None, "o3" -> None))
  }

  test("winnowing guarantees a shared fingerprint for a shared run of >= w+k-1 tokens") {
    // k=4, w=4: any shared verbatim run of 7 tokens must collide
    val shared = (1 to 7).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $shared epsilon zeta eta theta"),
      (2L, s"one two three four five $shared six seven eight nine"),
      (3L, "completely different words with no overlap here at all okay then"))
      .toDF("doc_id", "text")
    val fp = operators.Winnowing.fingerprints(docs, "doc_id", "text")
      .select("doc_id", "fp").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2).toSet }
    assert((fp(1L) & fp(2L)).nonEmpty, "shared 7-token run produced no shared fingerprint")
    assert((fp(1L) & fp(3L)).isEmpty && (fp(2L) & fp(3L)).isEmpty,
      "disjoint documents share fingerprints")
    val pairs = operators.Winnowing.overlapPairs(docs, "doc_id", "text", minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("winnowing emits nothing for documents shorter than w+k-1 tokens") {
    val docs = Seq((1L, "one two three four five six")).toDF("doc_id", "text") // 6 < 7
    assert(operators.Winnowing.fingerprints(docs, "doc_id", "text").count() == 0L)
  }

  test("winnowing maxDf drops boilerplate-witnessed pairs, keeps rare overlap") {
    // 'boiler': an 8-token run shared by ALL 5 docs (df=5 fingerprints);
    // docs 1 and 2 additionally share a rare 7-token run (df=2)
    val boiler = (1 to 8).map(i => s"tpl$i").mkString(" ")
    val rare = (1 to 7).map(i => s"rare$i").mkString(" ")
    val docs = (1L to 5L).map { i =>
      val tail = if (i <= 2) s" $rare" else s" uniq${i}a uniq${i}b uniq${i}c uniq${i}d uniq${i}e uniq${i}f uniq${i}g"
      (i, s"$boiler$tail")
    }.toDF("doc_id", "text")
    val uncapped = operators.Winnowing.overlapPairs(docs, "doc_id", "text",
      minShared = 1).select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 10, s"boilerplate links every pair: $uncapped")
    val capped = operators.Winnowing.overlapPairs(docs, "doc_id", "text",
      minShared = 1, maxDf = Some(2L))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L)),
      s"only the rare-run pair must survive the df cap: $capped")
  }

  test("rebalanceToMix hits the target mixture and keeps the binding domain whole") {
    // 300 a / 100 b / 600 c with targets 50/25/25%: n/w = 600/400/2400,
    // so b binds (s=400) -> expected keeps a=200, b=100 (whole), c=100
    val df = (1 to 1000).map { i =>
      (i.toLong, if (i <= 300) "a" else if (i <= 400) "b" else "c")
    }.toDF("id", "dom")
    val out = operators.Sampling.rebalanceToMix(df, "id", "dom",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25))
    val counts = out.groupBy("dom").count().as[(String, Long)].collect().toMap
    assert(counts("b") == 100L, s"binding domain must be kept whole: $counts")
    // hash draws concentrate around the target (sd ~9 rows here)
    assert(math.abs(counts("a") - 200L) <= 45, s"mix off target: $counts")
    assert(math.abs(counts("c") - 100L) <= 45, s"mix off target: $counts")
    // membership is a pure function of (id, domain): repartition-proof
    val ids = out.select("id").as[Long].collect().toSet
    val ids2 = operators.Sampling.rebalanceToMix(df.repartition(7), "id", "dom",
      Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)).select("id").as[Long].collect().toSet
    assert(ids == ids2)
    // domains absent from the weight map are dropped
    assert(!operators.Sampling.rebalanceToMix(df, "id", "dom",
      Map("a" -> 1.0)).select("dom").as[String].collect().contains("b"))
  }

  test("oovStats applies the deterministic top-V vocabulary cutoff") {
    // counts: a=2 b=2 c=1 d=1; V=2 -> vocab {a, b} (count desc, token asc)
    val df = Seq((1L, "a a b"), (2L, "b c d")).toDF("doc_id", "text")
    val got = operators.CorpusQuality.oovStats(df, "doc_id", "text", 2)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 0L, 0.0)))
    assert(got(2L) == ((2L, 3L, 2L, 0.6667)))
  }

  test("IVF model save/load round-trips exactly; search results unchanged") {
    val emb = sources.Tables.embeddings(spark, sf)
    val model = operators.Similarity.trainIvf(emb, "embedding", nCells = 4,
      maxIters = 3, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/model"
    operators.Similarity.saveIvf(spark, model, dir)
    val loaded = operators.Similarity.loadIvf(spark, dir)
    assert(loaded.nCells == model.nCells)
    model.centroids.zip(loaded.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b), "centroids must round-trip bit-exactly")
    }
    val q = emb.filter(col("vec_id") % 50 === 0)
    val a = operators.Similarity.ivfSearchTopK(q, emb, "vec_id", "embedding",
      model, 3, nprobe = 2).collect().toSeq
    val b = operators.Similarity.ivfSearchTopK(q, emb, "vec_id", "embedding",
      loaded, 3, nprobe = 2).collect().toSeq
    assert(a == b, "search through the reloaded model must be identical")
  }

  test("exactKPerStratum draws exactly k per stratum, keeps small strata whole") {
    val df = (1 to 100).map { i =>
      (i.toLong, if (i <= 90) "big" else "small")
    }.toDF("id", "g")
    val out = operators.Sampling.exactKPerStratum(df, "id", "g", 7)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(out == Map("big" -> 7L, "small" -> 7L))
    val tiny = operators.Sampling.exactKPerStratum(
      df.filter(col("g") === "small"), "id", "g", 50)
    assert(tiny.count() == 10L, "strata smaller than k are kept whole")
    // deterministic: same draw regardless of partitioning
    val a = operators.Sampling.exactKPerStratum(df, "id", "g", 7)
      .select("id").as[Long].collect().toSet
    val b = operators.Sampling.exactKPerStratum(df.repartition(13), "id", "g", 7)
      .select("id").as[Long].collect().toSet
    assert(a == b)
  }

  test("filterByScoreQuantile keeps exactly the rows at or above the quantile") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "s")
    val kept = operators.CorpusQuality.filterByScoreQuantile(df, "s", 0.25)
      .select("id").as[Long].collect().toSet
    // p25 of 1..100 (interpolated) = 25.75 -> keep 26..100
    assert(kept == (26 to 100).map(_.toLong).toSet)
  }

  test("url extraction and text normalization edge cases") {
    val df = Seq(
      (1L, "plain text no urls"),
      (2L, "x https://a.com/p http://b.org y"),
      (3L, "  Mixed-CASE!!  punct%%and   spaces "),
      (4L, "see https://login@evil.com/steal now")).toDF("id", "t")
    val got = df.select(col("id"),
        functions.TextAnalysis.extractHosts(col("t")).as("h"),
        functions.TextAnalysis.normalizeText(col("t")).as("n"))
      .as[(Long, Seq[String], String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == Seq())
    assert(got(2L)._2 == Seq("a.com", "b.org"), "hosts in document order")
    assert(got(3L)._3 == "mixed case punct and spaces")
    // userinfo must not masquerade as the host (blocklist-evasion guard)
    assert(got(4L)._2 == Seq("evil.com"), s"got ${got(4L)._2}")
  }

  test("topk_freq exact mode equals the full groupBy count, partitioning-proof") {
    val items = (1 to 1000).map(i => s"tok${i % 37}").toDF("item")
    val exact = items.groupBy("item").count()
      .orderBy(col("count").desc, col("item"))
      .limit(10).as[(String, Long)].collect().toSeq
    val sketch = operators.Ranking.heavyHitters(items, "item", 10, 100)
      .select("item", "n").as[(String, Long)].collect().toSeq
    assert(sketch == exact)
    val sketchRepart = operators.Ranking
      .heavyHitters(items.repartition(17), "item", 10, 100)
      .select("item", "n").as[(String, Long)].collect().toSeq
    assert(sketchRepart == exact, "merge across partials must stay exact")
    // err = 0 when nothing ever evicts
    assert(operators.Ranking.heavyHitters(items, "item", 10, 100)
      .select("err").as[Long].collect().forall(_ == 0L))
  }

  test("topk_freq sketch mode finds heavy hitters within the n/capacity bound") {
    // skewed stream: 'hot' appears 500x, 'warm' 200x, then a 1000-item
    // distinct tail — far beyond capacity 64
    val rows = Seq.fill(500)("hot") ++ Seq.fill(200)("warm") ++
      (1 to 1000).map(i => s"tail$i")
    val n = rows.length
    val cap = 64
    val items = rows.toDF("item").repartition(4)
    val got = operators.Ranking.heavyHitters(items, "item", 5, cap)
      .select("item", "n", "err").as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.contains("hot") && got.contains("warm"),
      s"heavy hitters must survive the sketch: $got")
    // merged across 4 partials: |estimate - true| <= 4 * (n_p/cap) ~= n/cap
    val bound = n.toDouble / cap * 2
    assert(math.abs(got("hot")._1 - 500L) <= bound, s"hot=${got("hot")} bound=$bound")
    assert(math.abs(got("warm")._1 - 200L) <= bound, s"warm=${got("warm")} bound=$bound")
    // the reported err must be a SOUND per-item bound in both directions
    assert(math.abs(got("hot")._1 - 500L) <= got("hot")._2,
      s"err must bound the true error: ${got("hot")}")
    assert(math.abs(got("warm")._1 - 200L) <= got("warm")._2,
      s"err must bound the true error: ${got("warm")}")
  }

  test("centroidOutliers flags the vector pointing away from its cluster") {
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.05f, 0.0f, 0.0f), 0), // anti-aligned outlier
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (5L, Array(0.0f, 0.8f, 0.2f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = operators.Similarity.centroidOutliers(rows, "vec_id", "embedding",
      "label", threshold = -0.15)
      .select("vec_id", "cos_centroid", "is_outlier")
      .as[(Long, Double, Boolean)].collect()
    assert(got.length == 5, "one output row per input vector")
    val flagged = got.filter(_._3).map(_._1).toSet
    assert(flagged == Set(3L), s"expected only the anti-aligned vector: ${got.toSeq}")
    val byId = got.map(r => r._1 -> r._2).toMap
    assert(byId(1L) > 0.9 && byId(2L) > 0.9 && byId(3L) < -0.9)
  }

  test("PQ with exhaustive candidates equals exact brute force; codebooks round-trip") {
    val emb = sources.Tables.embeddings(spark, sf).cache()
    val q = emb.filter(col("vec_id") % 25 === 0)
    val model = operators.Similarity.trainPq(emb, "embedding", m = 8, k = 4,
      maxIters = 4, seed = 42L)
    // candidates >= |corpus| → shortlist is exhaustive → rerank IS brute force
    val n = emb.count().toInt
    val pq = operators.Similarity.pqSearchTopK(q, emb, "vec_id", "embedding",
      model, k = 5, candidates = n)
      .orderBy("query_id", "rank").collect().toSeq
    val exact = operators.Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .orderBy("query_id", "rank").collect().toSeq
    assert(pq == exact, "exhaustive-candidate PQ must equal the exact top-k")

    val dir = java.nio.file.Files.createTempDirectory("pq-model").toString
    operators.Similarity.savePq(spark, model, s"$dir/pq")
    val loaded = operators.Similarity.loadPq(spark, s"$dir/pq")
    assert(loaded.codebooks.map(_.map(_.toSeq)) ==
      model.codebooks.map(_.map(_.toSeq)), "PQ codebooks must round-trip exactly")
    emb.unpersist()
  }

  test("PQ shortlist recall at the gate's config meets the 0.8 contract") {
    val emb = sources.Tables.embeddings(spark, sf).cache()
    val q = emb.filter(col("vec_id") % 25 === 0)
    val model = operators.Similarity.trainPq(emb, "embedding", m = 8, k = 16,
      maxIters = 8, seed = 42L)
    val pq = operators.Similarity.pqSearchTopK(q, emb, "vec_id", "embedding",
      model, k = 5, candidates = 100)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = operators.Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (pq intersect exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"PQ recall@5 with 100/${emb.count()} candidates: $recall")
    emb.unpersist()
  }

  test("IVF-PQ with exhaustive probing equals plain PQ; partial probe keeps recall") {
    val emb = sources.Tables.embeddings(spark, sf).cache()
    val q = emb.filter(col("vec_id") % 25 === 0)
    val ivf = operators.Similarity.trainIvf(emb, "embedding", nCells = 16,
      maxIters = 5, seed = 42L)
    val pqm = operators.Similarity.trainPq(emb, "embedding", m = 8, k = 16,
      maxIters = 8, seed = 42L)
    // nprobe = nCells → every cell probed → identical to the PQ-only scan
    val full = operators.Similarity.ivfPqSearchTopK(q, emb, "vec_id", "embedding",
      ivf, pqm, k = 5, nprobe = ivf.nCells, candidates = 100)
      .orderBy("query_id", "rank").collect().toSeq
    val pqOnly = operators.Similarity.pqSearchTopK(q, emb, "vec_id", "embedding",
      pqm, k = 5, candidates = 100)
      .orderBy("query_id", "rank").collect().toSeq
    assert(full == pqOnly, "exhaustive-probe IVF-PQ must equal the PQ-only scan")
    // half the cells probed — the production setting: recall degrades
    // gracefully, not catastrophically
    val half = operators.Similarity.ivfPqSearchTopK(q, emb, "vec_id", "embedding",
      ivf, pqm, k = 5, nprobe = 8, candidates = 100)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = operators.Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (half intersect exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"IVF-PQ recall@5 at nprobe=8/16: $recall")
    emb.unpersist()
  }

  test("sessionize splits strictly past the gap, inclusive at the boundary") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Long) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val ev = Seq(
      (1L, 10L, ts(0), 1.0),     // session 1
      (1L, 11L, ts(1800), 2.0),  // exactly the gap → SAME session
      (1L, 12L, ts(3601), 4.0),  // 1801 s after prev → new session
      (2L, 20L, ts(0), 8.0))     // other user: own numbering
      .toDF("user_id", "event_id", "ts", "value")
    val got = queries.TimeSeries.sessionize(ev, gapSeconds = 1800L)
      .select("user_id", "session_seq", "n_events", "total_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 4.0), (2L, 1L, 1L, 8.0)),
      s"got $got")
  }

  test("fuzzy self-pairs match within a block and skip oversized blocks") {
    val df = Seq(
      (1L, "red widget", "b1"), (2L, "red widgets", "b1"), // dist 1
      (3L, "blue bolt", "b1"),                              // too far from both
      (4L, "same name", "big"), (5L, "same name", "big"),   // oversized block
      (6L, "same name", "big"), (7L, "same name", "big"))
      .toDF("id", "name", "blk")
    val got = operators.FuzzyJoin.fuzzySelfPairs(df, "id", "name",
      Seq("blk"), maxDist = 2, maxBlockSize = 3)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1)),
      s"expected only the b1 near-pair (block 'big' capped out): $got")
  }

  test("funnel enforces strict ordering and reports drop-off per stage") {
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val ev = Seq(
      // u1 completes in order
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // u2 stops after click
      (2L, ts(1), "view"), (2L, ts(5), "click"),
      // u3 purchases BEFORE clicking → never reaches stage 3
      (3L, ts(1), "view"), (3L, ts(4), "click"), (3L, ts(2), "purchase"),
      // u4 clicks at the SAME instant as view → strict 'after' fails
      (4L, ts(7), "view"), (4L, ts(7), "click"),
      // u5 never views: not even stage 1
      (5L, ts(1), "click"), (5L, ts(2), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val got = operators.Cohorts.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select("step", "n_users").as[(Int, Long)].collect().toMap
    assert(got == Map(1 -> 4L, 2 -> 3L, 3 -> 1L), s"$got")
  }

  test("retention counts day-0 as the full cohort") {
    val ev = sources.Tables.events(spark, TestSpark.sf)
    val r = operators.Cohorts.retention(ev, "user_id", "ts")
    val day0 = r.filter(col("day_offset") === 0)
      .agg(sum(col("n_users"))).head().getLong(0)
    val users = ev.select("user_id").distinct().count()
    assert(day0 == users,
      s"every user is active on their cohort day ($day0 != $users)")
  }

  test("pageRank matches a single-threaded reference; ranks sum to 1") {
    // 5 has no out-edges (dangling); 4 feeds the 1-2-3 cycle
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L),
      (3L, 5L)).toDF("src", "dst")
    val iters = 10
    val got = operators.Graphs.pageRank(edges, "src", "dst", iters)
      .as[(Long, Double)].collect().toMap
    // independent reference: dense single-threaded power iteration
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L, 5L),
      4L -> Seq(3L))
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val contrib = nodes.map { v =>
        v -> nodes.filter(u => out.getOrElse(u, Nil).contains(v))
          .map(u => r(u) / out(u).size).sum
      }.toMap
      r = nodes.map(v => v ->
        (0.15 / n + 0.85 * (contrib(v) + dangling / n))).toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - r(v)) < 1e-9, s"node $v: ${got(v)} vs ${r(v)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, s"sum=${got.values.sum}")
    // degree stats cover the full-outer union of sources and sinks
    val deg = operators.Graphs.degreeStats(edges, "src", "dst")
      .as[(Long, Long, Long)].collect().toSet
    assert(deg == Set((1L, 2L, 1L), (2L, 1L, 1L), (3L, 2L, 3L),
      (4L, 1L, 0L), (5L, 0L, 1L)), s"$deg")
  }

  test("scd2 history is run-length: a returning value starts a NEW version") {
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val log = Seq(
      (1L, ts(1), 10L, "a"), (1L, ts(2), 11L, "a"), // run 1: a ×2
      (1L, ts(3), 12L, "b"),                        // run 2: b
      (1L, ts(4), 13L, "a"))                        // run 3: a RETURNS
      .toDF("id", "ts", "tie", "v")
    val got = operators.Scd2.history(log, "id", "ts", "v", "tie")
      .select("v", "version", "n_obs", "is_current")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(got == Set(("a", 1L, 2L, false), ("b", 2L, 1L, false),
      ("a", 3L, 1L, true)), s"$got")
  }

  test("scd2 applyIncrement equals a full rebuild over old ∪ new observations") {
    val ev = sources.Tables.events(spark, TestSpark.sf)
    val cutoff = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val oldH = operators.Scd2.history(ev.filter(col("ts") < lit(cutoff)),
      "user_id", "ts", "event_type", "event_id")
    val inc = operators.Scd2.applyIncrement(oldH,
        ev.filter(col("ts") >= lit(cutoff)),
        "user_id", "ts", "event_type", "event_id")
      .collect().map(_.toString).toSet
    val full = operators.Scd2.history(ev, "user_id", "ts", "event_type", "event_id")
      .collect().map(_.toString).toSet
    assert(inc == full,
      s"incremental != rebuild: missing=${(full -- inc).take(2)} extra=${(inc -- full).take(2)}")
    assert(full.nonEmpty)
  }

  test("verbatimCoverage counts cross-doc windows, ignores within-doc repeats") {
    val t = (1 to 8).map(i => s"t$i").mkString(" ")       // the shared run
    val docs = Seq(
      (1L, t + " u1 u2"),                                 // 3 windows, 1 shared
      (2L, "v1 " + t + " v2"),                            // 3 windows, 1 shared
      (3L, (1 to 8).map(i => s"w$i").mkString(" ")),      // 1 window, unique
      (4L, t.replace("t", "r") + " " + t.replace("t", "r")), // internal repeat only
      (5L, "too short")).toDF("doc_id", "text")
    val got = operators.CorpusQuality.verbatimCoverage(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 1L, 33L)), s"${got(1L)}")
    assert(got(2L) == ((2L, 3L, 1L, 33L)), s"${got(2L)}")
    assert(got(3L) == ((3L, 1L, 0L, 0L)))
    // 16 tokens → 9 windows; [r1..r8] repeats WITHIN doc 4 only → not shared
    assert(got(4L) == ((4L, 9L, 0L, 0L)), s"${got(4L)}")
    assert(!got.contains(5L), "docs shorter than k tokens have no windows")
  }

  test("image dHash near-dup pairs: copies pair up, reversed gradient does not") {
    def png(g: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = math.max(0, math.min(255, g(x, y)))
        img.setRGB(x, y, v * 0x010101)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val base = png((x, _) => x * 3)
    val near = png((x, y) => if (x == 0 && y == 0) 12 else x * 3)
    val far = png((x, _) => (63 - x) * 3)
    val payloads = Seq(
      (1L, base), (2L, near), (3L, far),
      (4L, Array[Byte](1, 2, 3))) // undecodable: dropped, not failed
      .toDF("doc_id", "payload")
    val hashes = operators.Multimodal.imageHashes(payloads)
    assert(hashes.count() == 3, "corrupt payload must drop, not fail")
    val pairs = operators.Multimodal.imageNearDupPairs(hashes)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"expected only the near-identical pair: $pairs")
  }

  test("hll sketch epochs: persisted merge equals a single pass over the union") {
    val ev = sources.Tables.events(spark, TestSpark.sf)
      .select(to_date(col("ts")).as("d"), col("user_id"), col("event_id"))
    val p = util.Scratch.dir("hll_spec_epoch")
    operators.Sketches.saveSketches(
      operators.Sketches.dailySketches(
        ev.filter(col("event_id") % 2 === 0), "d", "user_id"), p)
    val merged = operators.Sketches.estimates(
      operators.Sketches.mergeEpochs(
        operators.Sketches.loadSketches(spark, p),
        operators.Sketches.dailySketches(
          ev.filter(col("event_id") % 2 =!= 0), "d", "user_id")))
      .as[(java.sql.Date, Long)].collect().toMap
    val onePass = operators.Sketches.estimates(
      operators.Sketches.dailySketches(ev, "d", "user_id"))
      .as[(java.sql.Date, Long)].collect().toMap
    assert(merged == onePass,
      "epoch-merged estimates must be identical to a one-shot sketch " +
        "(HLL union is register-wise max — order-independent)")
    assert(merged.nonEmpty)
  }

  test("hll sketch fold commits as versioned epochs; readers survive the re-fold") {
    val ev = sources.Tables.events(spark, TestSpark.sf)
      .select(to_date(col("ts")).as("d"), col("user_id"), col("event_id"))
    val root = util.Scratch.dir("hll_vt") + "/sketches"
    val v0 = operators.Sketches.commitSketches(
      operators.Sketches.dailySketches(
        ev.filter(col("event_id") % 2 === 0), "d", "user_id"), root)
    assert(v0 == 0L)
    val reader = operators.Sketches.readSketches(spark, root)
    val before = operators.Sketches.estimates(reader)
      .as[(java.sql.Date, Long)].collect().toMap
    // the next ingest epoch folds in and commits — the reader's epoch
    // is immutable underneath it
    val v1 = operators.Sketches.commitSketches(
      operators.Sketches.mergeEpochs(
        operators.Sketches.readSketches(spark, root),
        operators.Sketches.dailySketches(
          ev.filter(col("event_id") % 2 =!= 0), "d", "user_id")), root)
    assert(v1 == 1L)
    assert(operators.Sketches.estimates(reader)
      .as[(java.sql.Date, Long)].collect().toMap == before,
      "pre-flip reader must still see its epoch")
    val after = operators.Sketches.estimates(
      operators.Sketches.readSketches(spark, root))
      .as[(java.sql.Date, Long)].collect().toMap
    val onePass = operators.Sketches.estimates(
      operators.Sketches.dailySketches(ev, "d", "user_id"))
      .as[(java.sql.Date, Long)].collect().toMap
    assert(after == onePass, "committed fold must equal a one-shot sketch")
  }

  test("training shards: deterministic shuffled order, balanced, lossless on disk") {
    val docs = sources.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("lang"))
    val n = docs.count()
    val out = util.Scratch.dir("shards") + "/t"
    operators.Sampling.writeTrainingShards(docs, "doc_id", out,
      nShards = 8, seed = "s1")
    val back = spark.read.parquet(out)
    assert(back.count() == n, "shard write must be lossless")
    assert(back.select("shard").distinct().count() == 8)
    // per-file order IS the deterministic permutation: re-derive the
    // expected order and compare against file order per shard
    val expected = operators.Sampling
      .shardAssignments(docs, "doc_id", 8, "s1")
      .orderBy(col("shard"), col("shard_h"), col("doc_id"))
      .select("shard", "doc_id").as[(Int, Long)].collect().toSeq
    val onDisk = (0 until 8).flatMap { s =>
      spark.read.parquet(s"$out/shard=$s")
        .select(col("doc_id")).as[Long].collect().map(id => (s, id))
    }
    assert(onDisk == expected,
      "file order must equal the deterministic (hash, id) permutation")
    // balance: no shard more than 2.5x the ideal share on this corpus
    val sizes = back.groupBy("shard").count().as[(Int, Long)].collect()
    assert(sizes.forall(_._2 <= 2.5 * n / 8.0), sizes.mkString(","))
    // a different seed draws a different permutation
    val other = operators.Sampling
      .shardAssignments(docs, "doc_id", 8, "s2")
      .orderBy(col("shard"), col("shard_h"), col("doc_id"))
      .select("shard", "doc_id").as[(Int, Long)].collect().toSeq
    assert(other != expected, "seed must change the permutation")
  }

  test("tfidf similarPairs: hand-computed cosine decides exactly at the threshold") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma zeta"),
      (3L, "omega psi chi phi")).toDF("doc_id", "text")
    // N=3; shared bigrams df=2 → idfq=round((ln(4/3)+1)*1000)=1288;
    // unique bigrams df=1 → idfq=round((ln(2)+1)*1000)=1693.
    // dot(1,2)=2·1288²=3317888; ss=2·1288²+1693²=6184137 (both docs)
    // → cos=3317888/6184137≈0.5365: a pair at pct=50, none at pct=60.
    def pairs(pct: Int) =
      operators.TfIdf.similarPairs(docs, "doc_id", "text", thresholdPct = pct)
        .as[(Long, Long)].collect().toSet
    assert(pairs(50) == Set((1L, 2L)), "cos 0.5365 must pass pct=50")
    assert(pairs(60) == Set.empty, "cos 0.5365 must fail pct=60")
  }

  test("bloom kernel: inserted items always hit; absent items mostly miss") {
    val words = new Array[Long](functions.BloomKernel.words(4096))
    val in = (0L until 200L).map(_ * 7919L)
    in.foreach(functions.BloomKernel.add(words, 4096, 5, _))
    val blob = functions.BloomKernel.serialize(words, 5)
    assert(in.forall(functions.BloomKernel.mightContain(blob, _)),
      "a Bloom filter must never produce a false negative")
    // 200 items in 4096 bits at 5 hashes → fpp ≈ 6e-3; 1000 probes of
    // absent items should see only a handful of false positives
    val fps = (1L to 1000L).map(_ * 104729L + 13L)
      .count(functions.BloomKernel.mightContain(blob, _))
    assert(fps < 50, s"false-positive rate implausibly high: $fps/1000")
    // serialize → deserialize → re-serialize is bit-stable (the shuffle path)
    assert(java.util.Arrays.equals(
      functions.BloomKernel.serialize(
        functions.BloomKernel.deserializeWords(blob), 5), blob))
  }

  test("bloom-filtered exact cross dedup equals the plain fingerprint join") {
    val sf = TestSpark.sf
    val d = sources.Tables.documents(spark, sf)
    val batch = d.filter(col("doc_id") % 10 === 7)
    val corpus = d.filter(col("doc_id") % 10 =!= 7)
    val got = operators.Dedup.exactCrossDups(batch, corpus, "doc_id", "text",
      numBits = 1 << 14, numHashes = 5)
      .as[(Long, Long)].collect().toSet
    val plain = operators.Dedup.fingerprints(batch, "doc_id", "text")
      .join(operators.Dedup.fingerprints(corpus, "doc_id", "text")
        .withColumnRenamed("doc_id", "corpus_doc_id"), Seq("fp"))
      .groupBy(col("doc_id")).agg(min(col("corpus_doc_id")).as("dup_of"))
      .as[(Long, Long)].collect().toSet
    assert(got == plain, s"bloom path diverged: ${got.diff(plain)} / ${plain.diff(got)}")
    assert(plain.nonEmpty, "fixture should contain cross-boundary exact dups")
  }

  test("file stats: range pruning skips files, returns exactly the filtered rows") {
    import sources.FileStats
    val lay = util.Scratch.dir("filestats_layout")
    sources.Tables.events(spark, TestSpark.sf)
      .withColumn("d", to_date(col("ts")))
      .repartitionByRange(8, col("d"))
      .write.mode("overwrite").parquet(lay)
    val stats = FileStats.collect(spark, lay, Seq("d")).cache()
    val total = stats.count()
    assert(total >= 4, s"range layout should produce several files, got $total")
    val lo = lit(java.sql.Date.valueOf("2024-01-10"))
    val hi = lit(java.sql.Date.valueOf("2024-01-13"))
    val kept = FileStats.candidateFilesAll(stats, Seq(("d", lo, hi))).count()
    assert(kept < total,
      s"a 4-of-30-day range must skip files on a day-ranged layout ($kept/$total kept)")
    val want = spark.read.parquet(lay).filter(col("d").between(lo, hi))
      .select("event_id").as[Long].collect().toSet
    adopted(lay, util.Scratch.dir("filestats_layout_meta"), Seq("d")) {
      val pruned = spark.read.parquet(lay).filter(col("d").between(lo, hi))
      assert(scannedFiles(pruned) == kept,
        "the planner must open exactly the candidate files")
      assert(pruned.select("event_id").as[Long].collect().toSet == want,
        "pruned read must equal the plain filtered scan")
    }
    assert(want.nonEmpty)
    stats.unpersist()
  }

  test("file stats: all-null files are pruned soundly; incremental epochs equal one-shot") {
    import sources.FileStats
    val lay = util.Scratch.dir("filestats_nulls")
    // partition 0 of the range layout holds the nulls; a range predicate
    // rejects NULL, so dropping that file loses nothing
    Seq[(Long, Option[Int])](1L -> None, 2L -> None, 3L -> Some(10),
        4L -> Some(20), 5L -> Some(30), 6L -> Some(40))
      .toDF("id", "v")
      .repartitionByRange(3, col("v"))
      .write.mode("overwrite").parquet(lay)
    val got = adopted(lay, util.Scratch.dir("filestats_nulls_meta"), Seq("v")) {
      spark.read.parquet(lay).filter(col("v").between(0, 100))
        .select("id").as[Long].collect().toSet
    }
    assert(got == Set(3L, 4L, 5L, 6L),
      "whole-domain range must return every non-null row and no null row")
    // incremental maintenance: a directory adopted file-batch by
    // file-batch holds the same stats as the one-shot collect
    val inc = util.Scratch.dir("filestats_epochs")
    val root = util.Scratch.dir("filestats_epochs_meta")
    val files = new java.io.File(lay).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sorted
    assert(files.length >= 2)
    val (b1, b2) = files.splitAt(1)
    def land(fs: Seq[java.io.File]): Unit = fs.foreach { f =>
      new java.io.File(inc).mkdirs()
      java.nio.file.Files.copy(f.toPath, new java.io.File(inc, f.getName).toPath)
    }
    land(b1.toSeq)
    sinks.ManifestTable.adopt(spark, inc, root, Seq("v")): Unit
    land(b2.toSeq)
    sinks.ManifestTable.adopt(spark, inc, root, Seq("v")): Unit
    val statCols = Seq("path", "row_count", "v_min", "v_max", "v_nulls")
    def canonical(df: org.apache.spark.sql.DataFrame) =
      df.select(statCols.map(col): _*).collect().toSeq.map(r =>
        new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath +: r.toSeq.tail)
        .sortBy(_.head.toString)
    val folded = canonical(sinks.ManifestTable.manifest(spark, root,
      sinks.ManifestTable.latestVersion(spark, root)))
    val oneShot = canonical(FileStats.collect(spark, inc, Seq("v")))
    assert(folded == oneShot, "batch-adopted stats must equal the one-shot scan")
  }

  test("footer stats equal scan stats across every supported type; pruning agrees") {
    import sources.FileStats
    val lay = util.Scratch.dir("footerstats_layout")
    sources.Tables.events(spark, TestSpark.sf)
      .withColumn("d", to_date(col("ts")))
      .withColumn("flag", col("event_id") % 2 === 0)
      .repartitionByRange(6, col("d"))
      .write.mode("overwrite").parquet(lay)
    val cols = Seq("d", "ts", "event_id", "event_type", "value", "flag")
    val schema = spark.read.parquet(lay).schema
    val files = new java.io.File(lay).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    def normalized(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map { r =>
        val raw = r.getString(r.fieldIndex("path"))
        val p = if (raw.contains(":/")) new java.net.URI(raw).getPath else raw
        p -> r.toSeq.drop(1)
      }.sortBy(_._1).toSeq
    val fromFooters = normalized(
      FileStats.collectFooters(spark, files, schema, cols)
        .select("path", FileStats.collect(spark, lay, cols).columns.drop(1).toIndexedSeq: _*))
    val fromScan = normalized(FileStats.collect(spark, lay, cols))
    assert(fromFooters.map(_._1) == fromScan.map(_._1))
    fromFooters.zip(fromScan).foreach { case ((p, f), (_, s)) =>
      assert(f == s, s"footer stats diverge from scan stats for $p")
    }
    // and the pruned read through footer-derived stats is still exact
    val stats = FileStats.collectFooters(spark, files, schema, cols)
    val lo = lit(java.sql.Date.valueOf("2024-01-10"))
    val hi = lit(java.sql.Date.valueOf("2024-01-13"))
    assert(FileStats.candidateFilesAll(stats, Seq(("d", lo, hi))).count() < files.size,
      "footer envelopes must skip files on the day-ranged layout")
    val want = spark.read.parquet(lay).filter(col("d").between(lo, hi))
      .select("event_id").as[Long].collect().toSet
    val got = adopted(lay, util.Scratch.dir("footerstats_layout_meta"), Seq("d")) {
      spark.read.parquet(lay).filter(col("d").between(lo, hi))
        .select("event_id").as[Long].collect().toSet
    }
    assert(got == want && want.nonEmpty)
  }

  test("multi-column pruning on a Z-order layout: 2-D box prunes both dimensions") {
    import sources.FileStats
    val lay = util.Scratch.dir("footerstats_zorder")
    sinks.ParquetSink.writeZOrdered(
      sources.Tables.events(spark, TestSpark.sf)
        .select("event_id", "user_id", "value"),
      lay, "user_id", "event_id", numFiles = 16)
    val schema = spark.read.parquet(lay).schema
    val files = new java.io.File(lay).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val stats = FileStats.collectFooters(spark, files, schema,
      Seq("user_id", "event_id")).cache()
    val uRange = ("user_id", lit(3L), lit(6L))
    val eRange = ("event_id", lit(200L), lit(450L))
    val keptU  = FileStats.candidateFilesAll(stats, Seq(uRange)).count()
    val keptE  = FileStats.candidateFilesAll(stats, Seq(eRange)).count()
    val kept2d = FileStats.candidateFilesAll(stats, Seq(uRange, eRange)).count()
    assert(kept2d <= keptU && kept2d <= keptE,
      s"conjunction must never keep more than either range ($kept2d vs $keptU/$keptE)")
    assert(kept2d < files.size && keptU < files.size && keptE < files.size,
      s"the Z-order layout must bound BOTH dimensions' envelopes " +
        s"($keptU, $keptE, 2d $kept2d of ${files.size})")
    val box = col("user_id").between(3L, 6L) && col("event_id").between(200L, 450L)
    val want = spark.read.parquet(lay).filter(box)
      .select("event_id").as[Long].collect().toSet
    adopted(lay, util.Scratch.dir("footerstats_zorder_meta"),
        Seq("user_id", "event_id")) {
      val pruned = spark.read.parquet(lay).filter(box)
      assert(scannedFiles(pruned) == kept2d,
        "the planner must open exactly the 2-D candidate files")
      assert(pruned.select("event_id").as[Long].collect().toSet == want)
    }
    assert(want.nonEmpty)
    stats.unpersist()
  }

  test("expectations: split is a disjoint exact cover; NULL checks quarantine") {
    import operators.Expectations, Expectations.Expectation
    val df = Seq(
      (1L, Some(10.0), "ok"),
      (2L, Some(-5.0), "ok"),    // breaks positive
      (3L, None, "ok"),          // NULL value: unknown → quarantine
      (4L, Some(3.0), ""),       // breaks nonempty
      (5L, Some(-1.0), "")       // breaks both
    ).toDF("id", "v", "s")
    val rules = Seq(
      Expectation("positive", col("v") > 0),
      Expectation("nonempty", length(col("s")) > 0))
    val (clean, quarantined) = Expectations.split(df, rules)
    assert(clean.select("id").as[Long].collect().toSet == Set(1L))
    val q = quarantined.select(col("id"), col("violated_rules"))
      .as[(Long, Seq[String])].collect().toMap
    assert(q == Map(
      2L -> Seq("positive"), 3L -> Seq("positive"),
      4L -> Seq("nonempty"), 5L -> Seq("positive", "nonempty")))
    assert(clean.count() + quarantined.count() == df.count())
    val rep = Expectations.report(df, rules)
      .as[(String, Long, Long)].collect().toSet
    assert(rep == Set(("positive", 3L, 5L), ("nonempty", 2L, 5L)))
  }

  test("footer stats: unknown stats are NULL and pruning keeps the file") {
    import org.apache.spark.sql.types._
    import sources.{FileStats, FooterStats}
    // a decimal column is outside the supported stats types: reject early
    val lay = util.Scratch.dir("footerstats_reject")
    Seq((1L, BigDecimal(2)), (2L, BigDecimal(3))).toDF("id", "dec")
      .write.mode("overwrite").parquet(lay)
    val schema = spark.read.parquet(lay).schema
    val files = new java.io.File(lay).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    intercept[IllegalArgumentException] {
      FileStats.collectFooters(spark, files, schema, Seq("dec"))
    }
    // hand-built "unknown" stats row (writer recorded nothing): the
    // proof-based filter must KEEP the file — unknown is not absent
    val unknown = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row("f1", 2L, null, null, null)),
      StructType(Seq(
        StructField("path", StringType), StructField("row_count", LongType),
        StructField("v_min", IntegerType), StructField("v_max", IntegerType),
        StructField("v_nulls", LongType))))
    assert(FileStats.candidateFilesAll(unknown, Seq(("v", lit(0), lit(10))))
      .collect().map(_.getString(0)).toSeq == Seq("f1"))
  }

  test("incremental aggregate view: delta fold == rebuild bit-equal; retraction guards") {
    import operators.IncrementalAgg
    val ev = sources.Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .withColumn("cents", round(col("value") * 100, 0).cast("long"))
    val keys = Seq("event_type", "day")
    val state0 = IncrementalAgg.build(
      ev.filter(col("event_id") % 4 =!= 3), keys, col("cents"))
    val delta = ev.filter(col("event_id") % 4 === 3).withColumn("op", lit("I"))
      .unionByName(ev.filter(col("event_id") % 16 === 0)
        .withColumn("op", lit("D")))
    val folded = IncrementalAgg
      .applyDelta(state0, delta, keys, col("cents"), col("op"))
      .orderBy("event_type", "day").collect().toSeq
    val rebuilt = IncrementalAgg.build(
      ev.filter(col("event_id") % 16 =!= 0), keys, col("cents"))
      .orderBy("event_type", "day").collect().toSeq
    assert(folded == rebuilt, "fold must be row-identical to a rebuild")
    // a key fully retracted leaves the state entirely
    val st = IncrementalAgg.build(
      Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v"), Seq("k"), col("v"))
    val gone = IncrementalAgg.applyDelta(st,
      Seq(("a", 1L, "D"), ("a", 2L, "D")).toDF("k", "v", "op"),
      Seq("k"), col("v"), col("op"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gone == Seq(("b", 1L, 5L)))
    // unmatched retraction (count would go negative) fails fast
    intercept[Exception] {
      IncrementalAgg.applyDelta(st,
        Seq(("ghost", 9L, "D")).toDF("k", "v", "op"),
        Seq("k"), col("v"), col("op")).collect()
    }
    // unknown op fails fast rather than silently skewing the view
    intercept[Exception] {
      IncrementalAgg.applyDelta(st,
        Seq(("b", 1L, "X")).toDF("k", "v", "op"),
        Seq("k"), col("v"), col("op")).collect()
    }
    // range backfill: a restated day-window rebuilds from corrected
    // facts and lands row-identical to a from-scratch build over them
    val cutoff = java.sql.Date.valueOf("2024-01-15")
    val corrected = ev.filter(col("event_id") % 5 =!= 0) // upstream restated
    val stale = IncrementalAgg.build(ev, keys, col("cents"))
    val repaired = IncrementalAgg.rebuildRange(stale, corrected, keys,
      col("cents"), col("day") >= cutoff)
      .orderBy("event_type", "day").collect().toSeq
    val want = IncrementalAgg.build(
      ev.filter(col("day") < cutoff)
        .unionByName(corrected.filter(col("day") >= cutoff)),
      keys, col("cents"))
      .orderBy("event_type", "day").collect().toSeq
    assert(repaired == want, "range repair must equal the piecewise rebuild")
  }

  test("incremental view extrema: deleted extremum re-derives exactly; fold == rebuild; support bound fails fast") {
    import operators.IncrementalAgg
    val facts = Seq(("a", 9L), ("a", 9L), ("a", 5L), ("a", 1L), ("b", 7L))
      .toDF("k", "v")
    val st = IncrementalAgg.build(facts, Seq("k"), col("v"),
      extremaSupport = 8)
    def row(df: org.apache.spark.sql.DataFrame, k: String) =
      df.filter(col("k") === k)
        .select("n", "val_sum", "v_min", "v_max")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).head
    assert(row(st, "a") == ((4L, 24L, 1L, 9L)))
    // retract ONE of the two 9s: max must STAY 9 (count 2 → 1)…
    val d1 = IncrementalAgg.applyDelta(st,
      Seq(("a", 9L, "D")).toDF("k", "v", "op"),
      Seq("k"), col("v"), col("op"), extremaSupport = 8)
    assert(row(d1, "a") == ((3L, 15L, 1L, 9L)))
    // …then the other 9 AND the 1: both extrema re-derive exactly
    val d2 = IncrementalAgg.applyDelta(d1,
      Seq(("a", 9L, "D"), ("a", 1L, "D")).toDF("k", "v", "op"),
      Seq("k"), col("v"), col("op"), extremaSupport = 8)
    assert(row(d2, "a") == ((1L, 5L, 5L, 5L)))
    // fold == rebuild bit-equal, histogram included (sorted entries)
    val rebuilt = IncrementalAgg.build(
      Seq(("a", 5L), ("b", 7L)).toDF("k", "v"), Seq("k"), col("v"),
      extremaSupport = 8)
    assert(d2.orderBy("k").collect().toSeq ==
      rebuilt.orderBy("k").collect().toSeq,
      "extrema fold must be row-identical to a rebuild")
    // a key exceeding the distinct-value bound fails fast, never a
    // silently truncated histogram
    val wide = (1 to 20).map(i => ("w", i.toLong)).toDF("k", "v")
    intercept[Exception] {
      IncrementalAgg.build(wide, Seq("k"), col("v"),
        extremaSupport = 8).collect()
    }
    // state/parameter mismatch is a caller bug, caught at the seam
    intercept[IllegalArgumentException] {
      IncrementalAgg.applyDelta(st,
        Seq(("a", 9L, "D")).toDF("k", "v", "op"),
        Seq("k"), col("v"), col("op"))
    }
  }

  test("keep-best-in-cluster: highest score survives, ties to smaller id, unscored never dropped") {
    import operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    // 11 is clustered but has NO score row; 99 is unclustered
    val docs = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0), (10L, 1.0),
      (20L, 4.0), (21L, 4.0), (99L, 0.0)).toDF("id", "q")
    val kept = Dedup.keepBestInCluster(docs, pairs, "id", "q")
      .select("id").collect().map(_.getLong(0)).toSet
    // {1,2,3}: 2 wins on score; {10,11}: only 10 scored → kept;
    // {20,21}: equal scores → smaller id; 99 untouched
    assert(kept == Set(2L, 10L, 20L, 99L), s"got $kept")
  }

  test("manifest-driven maintenance loop: stats and bloom indexes follow landed files incrementally") {
    import sinks.ManifestTable
    val land = util.Scratch.dir("maint_land")
    val root = util.Scratch.dir("maint_meta")
    val docs = sources.Tables.documents(spark, sf)
    def files(): Set[String] =
      if (!ManifestTable.exists(spark, root)) Set.empty
      else ManifestTable.filesAt(spark, root,
        ManifestTable.latestVersion(spark, root)).toSet
    // one maintenance tick: adopt describes ONLY the new files, the
    // bloom build indexes ONLY the files it lacks
    def tick(): Int = {
      val before = files()
      ManifestTable.adopt(spark, land, root, Seq("doc_id")): Unit
      ManifestTable.buildBloom(spark, root, "doc_id"): Unit
      (files() -- before).size
    }
    docs.filter(col("doc_id") < 100).repartition(3)
      .write.mode("append").parquet(land)
    val n1 = tick()
    assert(n1 >= 2, "wave 1 should land several files")
    val v1 = ManifestTable.latestVersion(spark, root)
    assert(tick() == 0, "nothing new => nothing re-indexed")
    assert(ManifestTable.latestVersion(spark, root) == v1,
      "an idle tick commits nothing")
    docs.filter(col("doc_id") >= 100).repartition(3)
      .write.mode("append").parquet(land)
    val n2 = tick()
    assert(n2 >= 2, "wave 2 indexes only its own files")
    // the folded metadata covers every live file…
    assert(files().size == n1 + n2)
    assert(ManifestTable.manifest(spark, root,
        ManifestTable.latestVersion(spark, root))
      .filter(col(ManifestTable.bloomCol("doc_id")).isNotNull)
      .count() == n1 + n2)
    // …and pruned reads through it stay exact across both waves
    plans.GraftTables.register(land, root)
    try {
      val gotRange = spark.read.parquet(land).filter(col("doc_id").between(90L, 110L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotRange == (90L to 110L).toSet)
      val gotKeys = spark.read.parquet(land).filter(col("doc_id").isin(5L, 150L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotKeys == Set(5L, 150L))
    } finally plans.GraftTables.unregister(land)
  }

  test("file bloom index: point lookup opens only admitted files, never misses the true file") {
    import sources.FileBloomIndex
    val docs = sources.Tables.documents(spark, sf)
    val lay = util.Scratch.dir("fbi_lay")
    docs.repartition(8, col("doc_id")).write.mode("overwrite").parquet(lay)
    val idx = FileBloomIndex.buildFor(spark, sources.FileManifest.listFiles(spark, lay)
      .select("path", "size").as[(String, Long)].collect().toSeq,
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType))
    val total = idx.count()
    assert(total >= 6, s"hash layout should spread over files, got $total")
    val cand = FileBloomIndex.candidateFiles(idx, Seq(lit(3L)))
      .collect().map(_.getString(0)).toSet
    assert(cand.size < total, "a single-key probe must skip files")
    val trueFile = spark.read.parquet(lay).filter(col("doc_id") === 3L)
      .select(input_file_name()).head().getString(0)
    assert(cand.contains(trueFile), "no false negatives — ever")
    // pruned read == plain filter
    val want = spark.read.parquet(lay)
      .filter(col("doc_id").isin(3L, 11L)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val root = util.Scratch.dir("fbi_meta")
    sinks.ManifestTable.adopt(spark, lay, root, Seq("doc_id")): Unit
    sinks.ManifestTable.buildBloom(spark, root, "doc_id"): Unit
    plans.GraftTables.register(lay, root)
    try {
      val probe = spark.read.parquet(lay).filter(col("doc_id").isin(3L, 11L))
      assert(scannedFiles(probe) < total, "the probe must open only admitted files")
      val got = probe.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want && got.nonEmpty)
      // a key outside the table reads no rows (usually zero files)
      assert(spark.read.parquet(lay).filter(col("doc_id") === 99999999L)
        .count() == 0)
    } finally plans.GraftTables.unregister(lay)
  }

  test("bloom index over an adopted directory: repeat layout rewrites stay exact; rows for dead files prune nothing") {
    import sinks.ManifestTable
    val docs = sources.Tables.documents(spark, sf)
    val lay = util.Scratch.dir("fbi_rw_lay")
    val root = util.Scratch.dir("fbi_rw_meta")
    // the q_bloom_lookup shape: overwrite re-lands the layout under
    // FRESH part names, then adopt + bloom build. Two passes in one
    // JVM: pass 2 must never open pass 1's deleted files
    def pass(): (Set[Long], Long) = {
      docs.repartition(8, col("doc_id")).write.mode("overwrite").parquet(lay)
      ManifestTable.adopt(spark, lay, root, Seq("doc_id")): Unit
      ManifestTable.buildBloom(spark, root, "doc_id"): Unit
      val probe = spark.read.parquet(lay).filter(col("doc_id").isin(7L, 21L))
      (probe.select("doc_id").collect().map(_.getLong(0)).toSet,
        scannedFiles(probe))
    }
    plans.GraftTables.register(lay, root)
    try {
      val (first, opened1) = pass()
      val (second, opened2) = pass()
      assert(first == Set(7L, 21L) && second == first)
      val live = sources.FileManifest.listFiles(spark, lay)
        .select("path").as[String].collect().toSet
      assert(opened1 < live.size && opened2 < live.size,
        s"both passes must prune ($opened1, $opened2 of ${live.size})")
      // the manifest holds exactly the live files, each with bits;
      // the first pass's dead files left with their entries
      val m = ManifestTable.manifest(spark, root,
        ManifestTable.latestVersion(spark, root))
      assert(m.select("path").as[String].collect().toSet == live)
      assert(m.filter(col(ManifestTable.bloomCol("doc_id")).isNotNull)
        .count() == live.size.toLong)
    } finally plans.GraftTables.unregister(lay)
  }

  test("maintenance tick after compaction: new files delta-indexed, dead rows reconciled away, pruned reads exact") {
    import sinks.ManifestTable
    val docs = sources.Tables.documents(spark, sf)
    val land = util.Scratch.dir("maint2_land")
    val root = util.Scratch.dir("maint2_meta")
    // the tick's head version: the bloom build's commit over the
    // adopt's, or the adopt's alone; None when neither committed
    def tick(): Option[Long] = {
      val v = ManifestTable.adopt(spark, land, root, Seq("doc_id"))
      ManifestTable.buildBloom(spark, root, "doc_id").orElse(v)
    }
    def live(): Set[String] = sources.FileManifest.listFiles(spark, land)
      .select("path").as[String].collect().toSet
    // land a fragmented partitioned layout (streaming-ingest shape)
    docs.repartition(6).write.partitionBy("lang").mode("append").parquet(land)
    val t1 = tick()
    assert(t1.nonEmpty && ManifestTable.filesAt(spark, root, t1.get).size >= 6)
    plans.GraftTables.register(land, root)
    try {
      val wantRange = docs.filter(col("doc_id").between(40L, 60L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      def gotRange(): Set[Long] = spark.read.parquet(land)
        .filter(col("doc_id").between(40L, 60L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // compaction rewrites fragmented partition dirs under NEW paths
      graft.sinks.ParquetSink.compactTable(spark, land,
        maxFilesPerDir = 2, targetFilesPerDir = 1)
      // before the tick the manifest names dead files and lacks the
      // compacted ones: dead entries exclude nothing, unknown files are
      // kept — reads stay exact
      assert(gotRange() == wantRange)
      // one tick: compacted files described and dead entries dropped
      // in one commit, the compacted files' bits built in a second
      val t2 = tick()
      assert(t2 == Some(t1.get + 2))
      assert(ManifestTable.filesAt(spark, root, t2.get).toSet == live())
      // point and range reads are exact and open no dead paths
      assert(gotRange() == wantRange)
      val gotKeys = spark.read.parquet(land).filter(col("doc_id").isin(5L, 42L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotKeys == Set(5L, 42L))
      // an idle tick is a no-op everywhere
      assert(tick().isEmpty && ManifestTable.latestVersion(spark, root) == t2.get)
    } finally plans.GraftTables.unregister(land)
  }

  test("drift: KS hits exact extremes; PSI terms vanish on identical epochs, localize a shift") {
    import operators.Drift
    val a = Seq(1L, 2L, 3L, 4L, 5L).toDF("v")
    val same = Drift.ks(a, a, "v").collect()(0)
    assert(same.getDouble(2) == 0.0, "identical epochs must score KS = 0")
    val b = Seq(11L, 12L, 13L).toDF("v")
    val disj = Drift.ks(a, b, "v").collect()(0)
    assert(disj.getDouble(2) == 1.0 && disj.getLong(3) == 5L,
      "disjoint supports must score KS = 1 at a's max value")
    assert(Drift.psi(a, a, "v", 0L, 15L, 4).collect()
      .forall(_.getDouble(3) == 0.0), "identical epochs must have zero PSI terms")
    // shift a's support wholesale: the PSI mass must sit in the vacated
    // and newly-occupied buckets (terms are individually non-negative)
    val shifted = Seq(11L, 12L, 13L, 14L, 15L).toDF("v")
    val terms = Drift.psi(a, shifted, "v", 0L, 15L, 4).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(terms.values.forall(_ >= 0.0))
    assert(terms(0) > 0 && terms(3) > 0,
      s"shift must localize in edge buckets, got $terms")
    // extreme values clamp to the edge BUCKETS, not wrap: before the
    // value-level clamp, (v - lo) * nBuckets overflowed long for |v|
    // near 2^63/nBuckets and mis-assigned the TOP edge to bucket 0
    val extreme = Seq(Long.MaxValue, Long.MaxValue - 1, Long.MinValue)
      .toDF("v")
    val eb = Drift.psi(a, extreme, "v", 0L, 15L, 4).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(eb(3) == 2L && eb(0) == 1L,
      s"extremes must land in their edge buckets, got $eb")
  }

  test("profiler: exact one-pass stats; HLL mode in tolerance; other-kind columns keep NULL envelopes") {
    import operators.Profiler
    val ev = sources.Tables.events(spark, sf)
    val nRows = ev.count()
    val p = Profiler.profile(ev, Seq("event_id", "event_type", "ts"),
      exactDistinct = true)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p.size == 3)
    val eid = p("event_id")
    assert(eid.getLong(1) == nRows && eid.getLong(2) == nRows &&
      eid.getLong(3) == nRows, "event_id is dense and unique")
    assert(eid.isNullAt(6) && eid.isNullAt(7), "numeric column: no string envelope")
    val et = p("event_type")
    assert(et.isNullAt(4) && et.isNullAt(5), "string column: no numeric envelope")
    assert(et.getString(6) != null && et.getString(6) <= et.getString(7))
    // timestamp is neither numeric nor string: counted, both envelopes NULL
    val ts = p("ts")
    assert(ts.getLong(2) == nRows && ts.isNullAt(4) && ts.isNullAt(6))
    // HLL mode: distinct estimate within the configured rsd-ish bound
    val exact = ev.select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    val est = Profiler.profile(ev, Seq("user_id"))
      .collect()(0).getLong(3)
    assert(math.abs(est - exact).toDouble / exact < 0.15,
      s"HLL estimate $est too far from exact $exact")
  }

  test("exactKPerStratumAgg draws exactly the window form's rows, k capped per stratum") {
    import operators.Sampling
    val docs = sources.Tables.documents(spark, sf).select("doc_id", "lang")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val viaWin = rows(Sampling.exactKPerStratum(docs, "doc_id", "lang", 7))
    val viaAgg = rows(Sampling.exactKPerStratumAgg(docs, "doc_id", "lang", 7))
    assert(viaAgg == viaWin && viaAgg.nonEmpty,
      "both strategies must draw the same deterministic sample")
    assert(viaAgg.groupBy(_._2).values.forall(_.size <= 7))
    // a NULL stratum is its own stratum in BOTH forms (window
    // partitionBy groups NULLs; the agg form joins null-safely)
    val withNulls = docs.withColumn("lang",
      when(col("doc_id") % 11 === 0, lit(null: String))
        .otherwise(col("lang")))
    val nWin = rows(Sampling.exactKPerStratum(withNulls, "doc_id", "lang", 5))
    val nAgg = rows(Sampling.exactKPerStratumAgg(withNulls, "doc_id", "lang", 5))
    assert(nAgg == nWin && nAgg.exists(_._2 == null),
      "NULL stratum must be sampled identically by both forms")
    // an id that cannot cast to bigint fails fast instead of silently
    // vanishing from the draw
    val badId = docs.withColumn("doc_id",
      concat(lit("x"), col("doc_id").cast("string")))
    val err = intercept[Exception] {
      Sampling.exactKPerStratumAgg(badId, "doc_id", "lang", 3).collect()
    }
    // under ANSI the cast itself throws; with ANSI off the
    // raise_error guard fires — either way, fail-fast, never a
    // silent drop from the draw
    def mentions(t: Throwable): Boolean = t != null && (
      t.getMessage.contains("must cast to non-NULL bigint") ||
        t.getMessage.contains("CAST_INVALID_INPUT") ||
        mentions(t.getCause))
    assert(mentions(err), s"unexpected failure: ${err.getMessage}")
  }

  test("topk_by == row_number window; partitioning-invariant; nulls skipped") {
    import functions.VectorExpressions
    import org.apache.spark.sql.expressions.Window
    VectorExpressions.ensureRegistered(spark)
    val rnd = new scala.util.Random(7)
    // only 50 distinct scores over 2000 rows: heavy ties stress the
    // deterministic id tie-break; every 97th score is NULL; every
    // 131st is NaN — Spark's sort ranks NaN GREATEST, and the
    // aggregate must agree (a negated-score ordering would rank NaN
    // last, the opposite end)
    val rows = (1 to 2000).map { i =>
      (s"g${i % 7}", i.toLong,
        if (i % 97 == 0) null.asInstanceOf[java.lang.Double]
        else if (i % 131 == 0) java.lang.Double.valueOf(Double.NaN)
        else java.lang.Double.valueOf(rnd.nextInt(50).toDouble))
    }
    val df = rows.toDF("g", "id", "v")
    // compare scores by BITS: Scala's boxed numeric equality follows
    // primitive ==, under which NaN != NaN and the NaN rows would
    // spuriously fail the comparison
    def shape(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    def viaAgg(d: org.apache.spark.sql.DataFrame) = shape(
      d.groupBy(col("g"))
        .agg(VectorExpressions.topkBy(col("v"), col("id"), 5).as("tk"))
        .select(col("g"), posexplode(col("tk")))
        .select(col("g"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id"), col("col.score"))
        .orderBy("g", "rank"))
    val expected = shape(df.filter(col("v").isNotNull)
      .withColumn("rank", row_number().over(
        Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)))
      .filter(col("rank") <= 5)
      .select(col("g"), col("rank"), col("id"), col("v"))
      .orderBy("g", "rank"))
    assert(viaAgg(df) == expected, "aggregate must equal the window plan")
    assert(viaAgg(df.repartition(13)) == expected,
      "result must not depend on partitioning")
    // a group smaller than k returns all its rows, still ordered
    val small = Seq(("s", 1L, java.lang.Double.valueOf(2.0)),
      ("s", 2L, java.lang.Double.valueOf(9.0))).toDF("g", "id", "v")
    assert(viaAgg(small) == Seq(
      ("s", 1, 2L, java.lang.Double.doubleToLongBits(9.0)),
      ("s", 2, 1L, java.lang.Double.doubleToLongBits(2.0))))
  }

  test("rrf fusion: dual-list membership dominates, ranks dense, ties break on id") {
    import operators.Retrieval
    val lex = Seq(("d1", 1), ("d2", 2), ("d3", 3)).toDF("id", "rank")
    val sem = Seq(("d2", 1), ("d4", 2)).toDF("id", "rank")
    val fused = Retrieval.rrfFuse(Seq(lex, sem), "id", k = 60, topK = 10)
      .orderBy(col("fused_rank"))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getInt(3)))
    // d2 appears in both lists (1/61 + 1/62) and must outrank every
    // single-list doc; then d1 (1/61) > d4 (1/62) > d3 (1/63)
    assert(fused.toSeq == Seq(
      ("d2", 2L, 1), ("d1", 1L, 2), ("d4", 1L, 3), ("d3", 1L, 4)))
    // topK truncates the fused list, not the per-retriever inputs
    val top2 = Retrieval.rrfFuse(Seq(lex, sem), "id", k = 60, topK = 2)
      .collect().map(_.getString(0)).toSet
    assert(top2 == Set("d2", "d1"))
  }

  test("scd2 point-in-time: half-open ranges, pre-history facts keep NULL state") {
    import operators.Scd2
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(s * 1000L)
    val log = Seq(
      ("u1", ts(10), 1L, "a"), ("u1", ts(20), 2L, "b"), ("u1", ts(30), 3L, "b"),
      ("u2", ts(15), 4L, "x"))
      .toDF("id", "t", "tie", "v")
    val hist = Scd2.history(log, "id", "t", "v", "tie")
    val facts = Seq(
      ("f_pre", "u1", ts(5)),   // before u1's first observation
      ("f_v1", "u1", ts(12)),   // inside version 1 [10, 20)
      ("f_edge", "u1", ts(20)), // exactly at version 2's start → v2
      ("f_open", "u1", ts(99)), // open current version
      ("f_u2", "u2", ts(15)),   // exactly at u2's only version start
      ("f_ghost", "u3", ts(50)) // unknown entity
    ).toDF("fact", "id", "t")
    val out = Scd2.pointInTime(hist, facts, "id", "t")
      .select(col("fact"), col("v"), col("version"))
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), Option(r.get(2)))).toMap
    assert(out.size == 6, "exactly one output row per fact")
    assert(out("f_pre") == (None, None))
    assert(out("f_ghost") == (None, None))
    assert(out("f_v1") == (Some("a"), Some(1L)))
    assert(out("f_edge") == (Some("b"), Some(2L)))
    assert(out("f_open") == (Some("b"), Some(2L)))
    assert(out("f_u2") == (Some("x"), Some(1L)))
  }

  test("weighted sample: zero weights never drawn, p>=1 always kept, deterministic") {
    import operators.Sampling
    val df = (1 to 400).map(i => (i.toLong, if (i % 7 == 0) 0L else 10L))
      .toDF("id", "w")
      // one whale: p = n·w/Σw = 50·1000/4430 ≈ 11, caps past 1
      .union(Seq((9999L, 1000L)).toDF("id", "w"))
    val s1 = Sampling.sampleByWeight(df, "id", "w", expectedN = 50.0)
      .collect().map(_.getLong(0)).toSet
    val s2 = Sampling.sampleByWeight(df, "id", "w", expectedN = 50.0)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "membership must be deterministic")
    assert(s1.contains(9999L), "p >= 1 row must always be kept")
    assert(!s1.exists(_ % 7 == 0), "zero-weight rows never drawn")
    // expectation sanity: each 10-weight row keeps p = 50·10/4430 ≈
    // 0.113 → E[non-whale] ≈ 38.7, σ ≈ 5.9; ±4σ slack keeps the
    // assertion meaningful but unflaky.
    assert(s1.size >= 16 && s1.size <= 63, s"implausible size ${s1.size}")
  }

  test("winsorize approx mode: sketch bounds honor the rank contract, clamp still sound") {
    import operators.Outliers
    val ev = sources.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value"))
    val acc = 1000
    val eps = 1.0 / acc
    val out = Outliers.winsorize(ev, "event_type", "value", 0.05, 0.95,
      approxAccuracy = Some(acc))
    // every clipped value inside the (approx) envelope
    assert(out.filter(col("value_w") < col("p_lo") ||
      col("value_w") > col("p_hi")).count() == 0)
    // rank contract per group: the p05 bound's rank sits within
    // (0.05 ± eps)·n — the GK guarantee the gate mode would pin
    val bounds = out.select("event_type", "p_lo").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    bounds.foreach { case (g, b) =>
      val grp = ev.filter(col("event_type") === g)
      val n = grp.count().toDouble
      val below = grp.filter(col("value") < b).count().toDouble
      val atOrBelow = grp.filter(col("value") <= b).count().toDouble
      assert(below / n <= 0.05 + eps + 1e-9 &&
        atOrBelow / n >= 0.05 - eps - 1e-9,
        s"$g: bound $b rank window violated (below=$below n=$n)")
    }
  }

  test("winsorize: clamp to group envelope, interior values untouched") {
    import operators.Outliers
    val df = ((1 to 99).map(i => ("g1", i.toLong, i.toDouble)) :+
      ("g1", 100L, 1e6)).toDF("grp", "id", "v")
    val out = Outliers.winsorize(df, "grp", "v", 0.05, 0.95)
      .select(col("id"), col("v"), col("v_w"), col("p_lo"), col("p_hi"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.length == 100)
    val (pLo, pHi) = (out.head._4, out.head._5)
    assert(pLo < pHi)
    assert(out.forall { case (_, _, w, lo, hi) => w >= lo && w <= hi })
    // interior rows pass through bit-unchanged
    assert(out.filter { case (_, v, _, lo, hi) => v >= lo && v <= hi }
      .forall { case (_, v, w, _, _) => v == w })
    // the planted outlier is clipped to the upper bound
    assert(out.find(_._1 == 100L).get._3 == pHi)
  }

  test("bpe: classic merge sequence, greedy overlap fold, encode rebuilds words") {
    import operators.Bpe
    // Sennrich's running example shape: low×3, lower×1, lowest×1
    val docs = Seq((1L, "low lower lowest"), (2L, "low low"))
      .toDF("doc_id", "text")
    val model = Bpe.learn(docs, "text", numMerges = 4)
    // round 0: (l,o)=5 ties (o,w)=5 → lexicographic lsym; then the
    // fused symbols chain strictly: (lo,w)=5, (low,e)=2, then the
    // 1-count 3-way tie (lowe,r)/(lowe,s)/(s,t) → "lowe" < "s", "r" < "s"
    assert(model.merges == Seq("l" -> "o", "lo" -> "w", "low" -> "e",
      "lowe" -> "r"))
    // every vocab word's final symbols reassemble the word exactly
    val vocab = model.vocab.select(col("word"), col("syms"))
      .as[(String, Seq[String])].collect()
    assert(vocab.nonEmpty &&
      vocab.forall { case (w, syms) => syms.mkString("") == w })
    assert(vocab.toMap.apply("low") == Seq("low"))
    assert(vocab.toMap.apply("lower") == Seq("lower"))
    assert(vocab.toMap.apply("lowest") == Seq("lowe", "s", "t"))
    // greedy non-overlapping scan: "aaaa" under (a,a) → [aa, aa];
    // "aaa" → [aa, a]
    val rep = Bpe.learn(Seq((1L, "aaaa aaa")).toDF("doc_id", "text"),
      "text", numMerges = 1)
    assert(rep.merges == Seq("a" -> "a"))
    val repVocab = rep.vocab.select(col("word"), col("syms"))
      .as[(String, Seq[String])].collect().toMap
    assert(repVocab("aaaa") == Seq("aa", "aa"))
    assert(repVocab("aaa") == Seq("aa", "a"))
    // encode: tokens flatten in word order; "zz" is unseen and no
    // learned merge applies, so it stays characters
    val enc = Bpe.encode(
      Seq((7L, "low lowest zz")).toDF("doc_id", "text"),
      "doc_id", "text", model)
      .select(col("doc_id"), col("tokens"), col("n_tokens"))
      .as[(Long, Seq[String], Int)].collect()
    assert(enc.length == 1)
    assert(enc(0)._2 == Seq("low", "lowe", "s", "t", "z", "z"))
    assert(enc(0)._3 == 6)
    // unseen words get the RANKED MERGES applied (standard BPE greedy
    // application), not a raw character fallback: "lowlow" never
    // appeared in training, but under the learned rules
    // (l,o)(lo,w)(low,e)(lowe,r) it must fuse to [low, low] — the raw
    // fallback would have left 6 characters
    val encUnseen = Bpe.encode(
      Seq((8L, "lowlow lowering")).toDF("doc_id", "text"),
      "doc_id", "text", model)
      .select(col("tokens")).as[Seq[String]].head()
    assert(encUnseen == Seq("low", "low", "lower", "i", "n", "g"),
      s"unseen words must encode through the ranked merges, got $encUnseen")
    // totality: zero-word and NULL texts surface with tokens = [],
    // never dropped (posexplode of an empty array yields no rows)
    val total = Bpe.encode(
      Seq((1L, "low"), (2L, "   "), (3L, null))
        .toDF("doc_id", "text"), "doc_id", "text", model)
      .orderBy(col("doc_id"))
      .select(col("doc_id"), col("tokens"), col("n_tokens"))
      .as[(Long, Seq[String], Int)].collect().toSeq
    assert(total.map(_._1) == Seq(1L, 2L, 3L), "encode must be total")
    assert(total(1)._2.isEmpty && total(1)._3 == 0)
    assert(total(2)._2.isEmpty && total(2)._3 == 0)
    // early stop: every word fused to a single symbol ends the loop
    val tiny = Bpe.learn(Seq((1L, "ab ab")).toDF("doc_id", "text"),
      "text", numMerges = 10)
    assert(tiny.merges == Seq("a" -> "b"))
  }

  test("observation gaps: runs of missing days counted and sized; dense keys report zeros") {
    import queries.TimeSeries
    def d(s: String) = java.sql.Date.valueOf(s)
    val df = Seq(
      ("a", d("2024-01-01")), ("a", d("2024-01-02")),
      ("a", d("2024-01-05")), ("a", d("2024-01-09")),
      ("a", d("2024-01-09")), // duplicate observation: counted once
      ("b", d("2024-02-01")), ("b", d("2024-02-02"))).toDF("k", "day")
    val got = TimeSeries.observationGaps(df, "k", "day")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // a: gaps 02→05 (2 missing) and 05→09 (3 missing)
    assert(got("a") == ((4L, 2L, 3L, 5L)), s"got ${got("a")}")
    assert(got("b") == ((2L, 0L, 0L, 0L)))
  }

  test("benford digits: exact string-derived digits, uniform data deviates positively on high digits") {
    import operators.Drift
    val df = (1L to 99L).map(v => ("g", v)).toDF("grp", "v")
    val got = Drift.benfordDigits(df, "grp", "v")
      .collect().map(r => r.getInt(1) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got.keySet == (1 to 9).toSet)
    // 1..99 uniform: every digit owns exactly 11 values
    assert(got.values.forall(_._1 == 11L))
    assert(got.values.forall(_._2 == 0.111111))
    // Benford expects ~30% ones: uniform data under-represents 1 and
    // over-represents 9
    assert(got(1)._4 < 0 && got(9)._4 > 0)
    assert(math.abs(got(1)._3 - 0.30103) < 1e-6)
    // zero and negative values never bin
    val withJunk = df.union(Seq(("g", 0L), ("g", -5L)).toDF("grp", "v"))
    assert(Drift.benfordDigits(withJunk, "grp", "v")
      .agg(sum(col("n"))).head().getLong(0) == 99L)
  }

  test("skew report: exact rank quantiles, hottest-key share, no single-partition window") {
    import operators.Scale
    // keys: w×1, x×1, y×2, z×10 → nk=4 nr=14 mx=10; ranked n = [1,1,2,10]
    // p50 rank ⌈2⌉=2 → 1; p99 rank ⌈3.96⌉=4 → 10; share 10/14 = 0.7143
    val rows = Seq.fill(1)("w") ++ Seq.fill(1)("x") ++
      Seq.fill(2)("y") ++ Seq.fill(10)("z")
    val got = Scale.skewReport(rows.toDF("k"), "k").collect()(0)
    assert(got.getLong(got.fieldIndex("n_keys")) == 4L)
    assert(got.getLong(got.fieldIndex("n_rows")) == 14L)
    assert(got.getLong(got.fieldIndex("max_n")) == 10L)
    assert(got.getLong(got.fieldIndex("p50_n")) == 1L)
    assert(got.getLong(got.fieldIndex("p99_n")) == 10L)
    assert(got.getDouble(got.fieldIndex("top_share")) == 0.7143)
    // the quantile path must not plan a global window
    val plan = Scale.skewReport(rows.toDF("k"), "k")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"skew report must use the rank machinery, not a window:\n$plan")
  }

  test("densify + LOCF: complete grid, gaps carried forward, NULL before first observation") {
    import queries.TimeSeries
    def d(s: String) = java.sql.Date.valueOf(s)
    val df = Seq(
      ("a", d("2024-01-02"), 20L), ("a", d("2024-01-04"), 40L),
      ("b", d("2024-01-01"), 7L), ("b", d("2024-01-05"), 9L))
      .toDF("k", "day", "v")
    val got = TimeSeries.densifyDailyLocf(df, "k", "day", "v")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getBoolean(2), Option(r.get(3)))).toSet
    assert(got == Set(
      ("a", "2024-01-01", false, None),          // before first obs: NULL
      ("a", "2024-01-02", true, Some(20L)),
      ("a", "2024-01-03", false, Some(20L)),     // carried forward
      ("a", "2024-01-04", true, Some(40L)),
      ("a", "2024-01-05", false, Some(40L)),
      ("b", "2024-01-01", true, Some(7L)),
      ("b", "2024-01-02", false, Some(7L)),
      ("b", "2024-01-03", false, Some(7L)),
      ("b", "2024-01-04", false, Some(7L)),
      ("b", "2024-01-05", true, Some(9L))), s"got $got")
  }

  test("jaro-winkler: textbook values, 0.7-gated prefix boost, floored transpositions, codegen") {
    import operators.FuzzyJoin
    functions.VectorExpressions.ensureRegistered(spark)
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611),   // 1 transposition + 3-prefix boost
      ("DIXON", "DICKSONX", 0.8133),
      ("DWAYNE", "DUANE", 0.84),
      ("JELLYFISH", "SMELLYFISH", 0.8963), // no common prefix → no boost
      ("abcdXXXX", "abcdYYYY", 0.6667),    // j ≤ 0.7 → boost gated OFF
      ("abcxxx", "bcaxxx", 0.9444),        // odd mismatches floor to 1
      ("ab", "ba", 0.0),                   // window 0: no matches
      ("", "abc", 0.0),
      ("same", "same", 1.0)).toDF("a", "b", "want")
    val got = cases.select(
      round(FuzzyJoin.jaroWinkler(col("a"), col("b")), 4).as("jw"),
      col("want")).as[(Double, Double)].collect()
    got.foreach { case (jw, want) =>
      assert(jw == want, s"expected $want got $jw") }
    // NULL propagates
    assert(cases.select(FuzzyJoin.jaroWinkler(lit(null).cast("string"),
      col("b"))).head().isNullAt(0))
    // native expression in the plan, no UDF fallback (dot_f32 idiom)
    val plan = sources.Tables.part(spark, sf)
      .select(FuzzyJoin.jaroWinkler(col("p_name"), lit("probe")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("jaro_winkler"),
      s"custom expression missing from plan:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") &&
      !plan.contains("ScalaUDF"), "must not fall back to UDF execution")
  }

  test("interval union: overlaps count once, touching merges, disjoint split islands") {
    import queries.TimeSeries
    val iv = Seq(
      ("a", 0L, 10L), ("a", 5L, 15L),   // overlap → one island
      ("a", 15L, 20L),                  // touching → merges ([0,20))
      ("a", 25L, 30L),                  // gap → second island
      ("b", 100L, 101L),
      ("a", 2L, 3L)                     // fully contained — adds nothing
    ).toDF("k", "s", "e")
    val got = TimeSeries.intervalUnionByKey(iv, "k", "s", "e")
      .select(col("k"), col("n_intervals"), col("n_islands"),
        col("covered_us")).as[(String, Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got("a") == ((5L, 2L, 25L)),
      s"expected 2 islands covering 25, got ${got("a")}")
    assert(got("b") == ((1L, 1L, 1L)))
    // partitioning-proof: same answer from a scrambled layout
    val again = TimeSeries.intervalUnionByKey(iv.repartition(7), "k", "s", "e")
      .select(col("k"), col("covered_us")).as[(String, Long)].collect().toMap
    assert(again("a") == 25L && again("b") == 1L)
  }

  test("length-bucketed batches: padding collapses vs hash batching; rank bucketing exact") {
    import operators.Packing
    val df = sources.Tables.documents(spark, sf).select(col("doc_id"),
      functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
    val bucketed = Packing.lengthBucketedBatches(df, "doc_id", "n", 32)
    // every row survives with a batch id; batch sizes are 32 except the tail
    assert(bucketed.count() == df.count())
    val sizes = Packing.batchPaddingStats(bucketed, "n")
      .select(col("batch_id"), col("n_seqs"), col("padding"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(sizes.init.forall(_._2 == 32L) && sizes.last._2 <= 32L)
    // padding win: length-sorted batches waste strictly less than
    // arbitrary (hash-ordered) batches of the same size on this corpus
    val hashBatched = df.withColumn("batch_id",
      pmod(operators.Dedup.hash32(col("doc_id").cast("string")), lit(16L)))
    val wasteSorted = sizes.map(_._3).sum
    val wasteHash = Packing.batchPaddingStats(hashBatched, "n")
      .agg(sum(col("padding"))).as[Long].head()
    assert(wasteSorted < wasteHash,
      s"length bucketing must cut padding: $wasteSorted vs $wasteHash")
  }

  test("schema drift: added/removed/type_changed/kept with exact null ratios") {
    import operators.Drift
    val prev = Seq[(Long, java.lang.Long, String)](
      (1L, 10L, "a"), (2L, null, "b")).toDF("id", "v", "gone")
    val cur = Seq[(Long, Double, String)](
      (1L, 1.5, "x"), (2L, 2.5, "y")).toDF("id", "v", "fresh")
    val got = Drift.schemaDrift(prev, cur)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getString(2), r.getString(3),
          Option(r.get(4)), Option(r.get(5)))).toMap
    assert(got("id") == (("kept", "bigint", "bigint", Some(0.0), Some(0.0))))
    assert(got("v") == (("type_changed", "bigint", "double",
      Some(0.5), Some(0.0))))
    assert(got("gone") == (("removed", "string", null, Some(0.0), None)))
    assert(got("fresh") == (("added", null, "string", None, Some(0.0))))
  }

  test("char entropy: 0 for one-symbol docs, ln(k) for uniform, repeats score below uniform") {
    import operators.CorpusQuality
    val docs = Seq(
      (1L, "aaaaaa"),           // one symbol → H = 0
      (2L, "abcd"),             // uniform over 4 → H = ln 4
      (3L, "aab"),              // skewed → 0 < H < ln 2? (ln 3 bound)
      (4L, "")).toDF("doc_id", "text")
    val h = CorpusQuality.charEntropy(docs, "doc_id", "text")
      .select(col("doc_id"), col("entropy")).as[(Long, Double)]
      .collect().toMap
    assert(h(1L) == 0.0)
    assert(math.abs(h(2L) - math.log(4.0)) < 5e-5)
    assert(h(3L) > 0.0 && h(3L) < math.log(3.0))
    assert(!h.contains(4L), "empty docs have no distribution")
  }

  test("collocations: bound pair tops PMI, independent pair scores ~0, minCount guards rare pairs") {
    import operators.CorpusQuality
    // 'new york' always adjacent; 'the'+'cat' co-occur only at chance
    val docs = (1L to 12L).map { i =>
      (i, s"new york the cat ${"w" + i} the dog")
    }.toDF("doc_id", "text")
    val top = CorpusQuality.collocations(docs, "doc_id", "text",
      minCount = 5L, k = 5)
      .select(col("w1"), col("w2"), col("pmi"))
      .as[(String, String, Double)].collect()
    assert(top.head._1 == "new" && top.head._2 == "york",
      s"always-adjacent pair must top PMI, got ${top.toSeq}")
    // a pair seen < minCount times never surfaces
    val rare = CorpusQuality.collocations(docs, "doc_id", "text",
      minCount = 5L, k = 100)
      .filter(col("n_pair") < 5L).count()
    assert(rare == 0L)
  }

  test("count-min: never undercounts any token, merged halves == single pass, zero for never-hit slots") {
    import operators.CountMin
    val toks = sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
    val w = 128; val d = 3
    val single = CountMin.sketch(toks, "tok", w, d)
    // overestimate-only invariant, checked for EVERY distinct token
    val truth = toks.groupBy(col("tok").as("item"))
      .agg(count(lit(1)).as("true_cnt"))
    val est = CountMin.estimates(single, truth, "item", w, d)
    val bad = est.join(truth, Seq("item"))
      .filter(col("est") < col("true_cnt")).count()
    assert(bad == 0, "count-min must never undercount")
    // sketch is bounded: at most d*w counters regardless of input
    assert(single.count() <= (w * d).toLong)
    // merge of independent halves == single pass, bit-equal
    val h1 = CountMin.sketch(toks.filter(
      operators.Dedup.hash32(col("tok")) % 2 === 0), "tok", w, d)
    val h2 = CountMin.sketch(toks.filter(
      operators.Dedup.hash32(col("tok")) % 2 === 1), "tok", w, d)
    val merged = CountMin.mergeSketches(Seq(h1, h2))
    assert(merged.exceptAll(single).isEmpty && single.exceptAll(merged).isEmpty,
      "bucket-wise fold must equal the single pass")
    // an item whose slots were never hit estimates exactly 0
    val tiny = CountMin.sketch(
      Seq("a").toDF("tok"), "tok", width = 1 << 20, depth = d)
    val zero = CountMin.estimates(tiny,
      Seq("definitely-absent").toDF("item"), "item", 1 << 20, d)
      .select(col("est")).as[Long].head()
    assert(zero == 0L)
  }

  test("bpe model persistence: round-trip exact, encode identical through the stored vocab") {
    import operators.Bpe
    val docs = Seq((1L, "low lower lowest"), (2L, "low low"))
      .toDF("doc_id", "text")
    val model = Bpe.learn(docs, "text", numMerges = 4)
    val root = java.nio.file.Files
      .createTempDirectory("graft-bpe-model").toString + "/bpe"
    Bpe.saveModel(model, root)
    val loaded = Bpe.loadModel(spark, root)
    assert(loaded.merges == model.merges, "merge ranks must round-trip")
    assert(loaded.vocab.exceptAll(model.vocab).isEmpty &&
      model.vocab.exceptAll(loaded.vocab).isEmpty)
    val a = Bpe.encode(docs, "doc_id", "text", model)
      .orderBy(col("doc_id")).collect().toSeq
    val b = Bpe.encode(docs, "doc_id", "text", loaded)
      .orderBy(col("doc_id")).collect().toSeq
    assert(a == b, "encoding through the stored vocab must be identical")
  }

  test("conjunctive bm25: every hit contains all terms; per-doc scores match the OR form") {
    import operators.Ranking
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "alpha beta gamma alpha"),
      (4L, "gamma gamma"), (5L, "delta")).toDF("doc_id", "text")
    val terms = Seq("alpha", "gamma")
    val conj = Ranking.bm25TopK(docs, "doc_id", "text", terms, k = 10,
      requireAllTerms = true).collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(conj.map(_._1).toSet == Set(1L, 3L),
      "only docs containing EVERY term may rank")
    // idf must not deflate: conj scores equal the OR-form scores for
    // the same docs (df derives from the full match sets either way)
    val or = Ranking.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(conj.forall { case (id, s) => or(id) == s })
  }

  test("cross-corpus bigram NLL: hand-computed smoothed model; unseen bigrams take the floor; short docs NULL") {
    import operators.CorpusQuality
    val reference = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val target = Seq((10L, "a b a b"), (11L, "a b"), (12L, "z"),
      (13L, ""), (14L, "q q"), (15L, "a z")).toDF("doc_id", "text")
    val got = CorpusQuality.bigramNll(reference, target, "doc_id", "text")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    // reference pairs: doc1 = ab, ba, ab; doc2 = ab → c12(a,b)=3,
    // c12(b,a)=1; left counts: a→3, b→1; V_ref = {a,b} = 2; k = 0.5
    def r4(x: Double) = math.round(x * 10000.0) / 10000.0
    val nllAb = -math.log((3 + 0.5) / (3 + 0.5 * 2))
    val nllBa = -math.log((1 + 0.5) / (1 + 0.5 * 2))
    // unseen head (q): k/(k·V); unseen pair with seen head (a,z):
    // k/(c1(a)+k·V)
    val nllQQ = -math.log(0.5 / (0.5 * 2))
    val nllAz = -math.log(0.5 / (3 + 0.5 * 2))
    assert(got == Seq(
      (10L, 3L, Some(r4((2 * nllAb + nllBa) / 3))),
      (11L, 1L, Some(r4(nllAb))),
      (12L, 0L, None),
      (13L, 0L, None),
      (14L, 1L, Some(r4(nllQQ))),
      (15L, 1L, Some(r4(nllAz)))),
      s"hand model mismatch: $got")
    // floors are ordered: an unseen pair under a COMMON head is more
    // surprising than under an unseen head's uniform floor
    assert(nllAz > nllQQ)
    // totality at corpus scale, self-scoring as the degenerate case
    val corpus = sources.Tables.documents(spark, sf)
    val scored = CorpusQuality.bigramNll(corpus, corpus, "doc_id", "text")
    assert(scored.count() == corpus.count(), "scoring must be total")
    assert(scored.filter(col("avg_nll").isNotNull).count() > 0)
  }

  test("atomic packing: capacity respected, bins dense, offsets run, greedy property, oversize isolated") {
    import operators.Packing
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"))
      // plant an oversize doc well past the window capacity
      .unionByName(Seq((900001L, 5000L)).toDF("doc_id", "n_chars"))
    val cap = 1200L
    val packed = Packing.packAtomic(docs, "doc_id", "n_chars", cap, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(packed.length == docs.count())
    val byBin = packed.groupBy(p => (p._3, p._5)) // (stream, bin)
    byBin.foreach { case ((s, b), rows) =>
      val total = rows.map(_._2).sum
      assert(total <= cap || rows.length == 1,
        s"bin ($s,$b) holds $total > $cap across ${rows.length} docs")
      // offsets are the running sum in rank order
      val inOrder = rows.sortBy(_._4)
      var run = 0L
      inOrder.foreach { r =>
        assert(r._6 == run, s"offset of ${r._1} must be the running sum")
        run += r._2
      }
    }
    // bins densely numbered per stream
    packed.groupBy(_._3).foreach { case (s, rows) =>
      val bins = rows.map(_._5).distinct.sorted.toSeq
      assert(bins == (0L until bins.length.toLong).toSeq,
        s"stream $s bins not dense")
    }
    // greedy: the doc that OPENED bin b+1 must not have fit bin b
    packed.groupBy(_._3).foreach { case (s, rows) =>
      val inOrder = rows.sortBy(_._4)
      var rem = -1L
      inOrder.foreach { r =>
        if (r._6 == 0L && r._5 > 0L)
          assert(r._2 > rem, s"doc ${r._1} opened a new bin but fit the previous")
        if (r._6 == 0L) rem = cap - r._2 else rem -= r._2
      }
    }
    // the oversize doc sits alone in its bin
    val big = packed.find(_._1 == 900001L).get
    assert(byBin((big._3, big._5)).length == 1, "oversize doc must pack alone")
    // deterministic under input repartitioning
    val again = Packing.packAtomic(docs.repartition(7), "doc_id", "n_chars",
      cap, 4).collect().map(r => (r.getLong(0), r.getLong(5))).toMap
    assert(packed.forall(p => again(p._1) == p._6))
  }

  test("atomic packing: zero-length docs land in a real bin — the first doc of a stream always opens bin 0") {
    import operators.Packing
    // all-zero lengths: without the stream-start guard the head doc
    // "fits" the nonexistent bin (len <= rem == 0) and lands with
    // bin = -1, offset = maxLen — violating the dense-bins contract
    // (the oracle's recursive seed puts rank 1 in bin 0)
    val zeros = (1L to 5L).map(i => (i, 0L)).toDF("doc_id", "len")
    val packed = Packing.packAtomic(zeros, "doc_id", "len", 100L, 2)
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(5)))
    assert(packed.length == 5)
    assert(packed.forall(_._2 == 0L), s"all-zero docs share bin 0: $packed")
    assert(packed.forall(_._3 == 0L), s"zero-length offsets are 0: $packed")
    // mixed: zero-length tails (len DESC order) still get bin >= 0
    val mixed = Seq((1L, 100L), (2L, 0L), (3L, 60L), (4L, 0L))
      .toDF("doc_id", "len")
    val p2 = Packing.packAtomic(mixed, "doc_id", "len", 100L, 1)
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(5)))
    assert(p2.forall(_._2 >= 0L), s"no doc may land in bin -1: ${p2.toSeq}")
  }

  test("sequential ids: dense 1-based global rank equal to the window form") {
    import operators.Ids
    val df = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"))
    val got = Ids.withSequentialIds(df, Seq("doc_id"), "seq_id",
      numPartitions = 5)
    // exact row-set equality with ROW_NUMBER() OVER (ORDER BY doc_id)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val want = df.withColumn("seq_id", row_number().over(w).cast("long"))
    assert(got.count() == df.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // ids are dense: 1..n with no holes
    val n = df.count()
    val ids = got.select(col("seq_id")).as[Long].collect().sorted
    assert(ids.head == 1L && ids.last == n && ids.distinct.length == n.toInt)
    // deterministic across partitioning of the input
    val again = Ids.withSequentialIds(df.repartition(7), Seq("doc_id"),
      "seq_id", numPartitions = 3)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
    // PARTIAL-SAMPLE regime: with rows-per-partition far above the
    // range sampler's reservoir (spark.sql.execution.rangeExchange.
    // sampleSizePerPartition = 100 by default), two independent
    // executions of the same range sort may draw different bounds —
    // the r8 bug class (offsets from one execution applied to the
    // other's partitions → duplicate/missing ids). The single
    // materialization must keep ids exactly dense no matter what the
    // sampler drew, including under a re-materialization of the result.
    val big = spark.range(20000)
      .select(pmod(col("id") * 2654435761L, lit(20011L)).as("k"),
        col("id"))
      .repartition(4)
    val bigIds = Ids.withSequentialIds(big, Seq("k", "id"), "seq_id",
      numPartitions = 8)
    def denseCheck(): Unit = {
      val seq = bigIds.orderBy(col("seq_id"))
        .select(col("seq_id")).as[Long].collect()
      assert(seq.length == 20000 && seq.head == 1L && seq.last == 20000L &&
        seq.distinct.length == 20000,
        "ids must be exactly dense 1..n under partial range sampling")
    }
    denseCheck()
    denseCheck() // second materialization: same physical partitioning
    // and order agreement with the window form on the full key
    val wb = org.apache.spark.sql.expressions.Window
      .orderBy(col("k"), col("id"))
    val wantBig = big.withColumn("seq_id", row_number().over(wb).cast("long"))
    assert(bigIds.exceptAll(wantBig).isEmpty && wantBig.exceptAll(bigIds).isEmpty)
  }

  test("table summary from stats epoch: exact count/extrema/nulls with zero data reads") {
    import sinks.ManifestTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft-meta-summary").toString
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 2.0), (2L, null), (3L, -7.5), (null, 4.0), (5L, 9.25))
      .toDF("k", "v")
    df.repartition(3).write.mode("overwrite").parquet(s"$dir/t")
    val v = ManifestTable.adopt(spark, s"$dir/t", s"$dir/meta", Seq("k", "v")).get
    val got = sources.FileStats.tableSummary(
      ManifestTable.manifest(spark, s"$dir/meta", v), Seq("k", "v")).collect()(0)
    assert(got.getLong(got.fieldIndex("row_count")) == 5L)
    assert(got.getLong(got.fieldIndex("k_min")) == 1L)
    assert(got.getLong(got.fieldIndex("k_max")) == 5L)
    assert(got.getLong(got.fieldIndex("k_nulls")) == 1L)
    assert(got.getDouble(got.fieldIndex("v_min")) == -7.5)
    assert(got.getDouble(got.fieldIndex("v_max")) == 9.25)
    assert(got.getLong(got.fieldIndex("v_nulls")) == 1L)
  }

  test("temperature mix: τ=1 is identity; binding domain kept whole; draw is partitioning-proof") {
    import operators.Sampling
    val df = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"))
    // τ=1: weights ∝ n → every rate is 1 → identity
    val id = Sampling.temperatureMix(df, "doc_id", "lang", 1)
    assert(id.count() == df.count())
    // τ=4: the binding domain (min n/n^¼ = min n^¾ → the SMALLEST
    // domain) keeps every row; every other domain downsamples
    val t4 = Sampling.temperatureMix(df, "doc_id", "lang", 4)
    val before = df.groupBy(col("lang")).count()
      .as[(String, Long)].collect().toMap
    val after = t4.groupBy(col("lang")).count()
      .as[(String, Long)].collect().toMap
    val smallest = before.minBy(_._2)._1
    assert(after(smallest) == before(smallest),
      "binding (smallest) domain must be kept whole")
    assert(before.keySet.forall(l => after.getOrElse(l, 0L) <= before(l)))
    assert(after.values.sum < before.values.sum)
    // realized mixture flattens: the biggest domain's share shrinks
    val shareBefore = before.maxBy(_._2)._2.toDouble / before.values.sum
    val shareAfter = after(before.maxBy(_._2)._1).toDouble / after.values.sum
    assert(shareAfter < shareBefore)
    // membership is a pure function of (id, domain): repartition-proof
    val again = Sampling.temperatureMix(df.repartition(7), "doc_id", "lang", 4)
    assert(t4.exceptAll(again).isEmpty && again.exceptAll(t4).isEmpty)
  }

  test("inverted index upsert: delta build equals full rebuild, stale postings replaced") {
    import operators.Ranking
    val dir = java.nio.file.Files
      .createTempDirectory("graft-inc-index").toString
    val docs = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "beta gamma gamma delta"),
      (3L, "alpha alpha epsilon"),
      (4L, "zeta eta theta")).toDF("doc_id", "text")
    // initial build: doc 4 missing, doc 2 TRUNCATED (its later tokens
    // must not survive the upsert as stale postings)
    val initial = docs.filter(col("doc_id") =!= 4)
      .withColumn("text", when(col("doc_id") === 2, lit("beta"))
        .otherwise(col("text")))
    Ranking.buildInvertedIndex(initial, "doc_id", "text", s"$dir/inc")
    Ranking.upsertIndexedDocs(docs.filter(col("doc_id").isin(2L, 4L)),
      "doc_id", "text", s"$dir/inc")
    Ranking.optimizeIndex(spark, s"$dir/inc", numFiles = 2)
    Ranking.buildInvertedIndex(docs, "doc_id", "text", s"$dir/full")
    def rows(root: String, sub: String) =
      sinks.ManifestTable.read(spark, s"$root/$sub")
    // merge must not churn the table's positional schema (a USING
    // anti-join's key-first output must not leak into committed files)
    assert(rows(s"$dir/inc", "postings").columns.toSeq ==
      Seq("tok", "doc_id", "tf"))
    // postings and doclen row-sets identical to the from-scratch build
    assert(rows(s"$dir/inc", "postings")
      .exceptAll(rows(s"$dir/full", "postings")).isEmpty)
    assert(rows(s"$dir/full", "postings")
      .exceptAll(rows(s"$dir/inc", "postings")).isEmpty)
    assert(rows(s"$dir/inc", "doclen")
      .exceptAll(rows(s"$dir/full", "doclen")).isEmpty)
    assert(rows(s"$dir/full", "doclen")
      .exceptAll(rows(s"$dir/inc", "doclen")).isEmpty)
    // stale check, directly: doc 2's truncated-build postings carried
    // only 'beta'; after upsert its gamma/delta postings exist and its
    // 'beta' tf reflects the TRUE text (1, not the truncated 1-token doc)
    val d2 = rows(s"$dir/inc", "postings").filter(col("doc_id") === 2)
      .select(col("tok"), col("tf")).as[(String, Long)].collect().toMap
    assert(d2 == Map("beta" -> 1L, "gamma" -> 2L, "delta" -> 1L))
    // scores through the maintained index equal the corpus-scan BM25
    val viaIndex = Ranking.bm25TopKIndexed(spark, s"$dir/inc",
      Seq("beta", "alpha"), k = 4).collect().toSeq
    val viaScan = Ranking.bm25TopK(docs, "doc_id", "text",
      Seq("beta", "alpha"), k = 4).collect().toSeq
    assert(viaIndex == viaScan)
  }

  test("unicode normalize: NFC composes, NFKC folds compatibility forms, bad form fails fast") {
    import functions.TextAnalysis
    functions.VectorExpressions.ensureRegistered(spark)
    val df = Seq(
      ("cafe\u0301", "caf\u00e9"),          // combining acute -> precomposed
      ("A\u030Angstro\u0308m", "\u00c5ngstr\u00f6m"),
      ("plain", "plain")).toDF("raw", "want")
    val nfc = df.select(
      TextAnalysis.normalizeUnicode(col("raw")).as("got"), col("want"))
      .as[(String, String)].collect()
    assert(nfc.forall { case (g, w) => g == w },
      s"NFC mismatch: ${nfc.mkString(", ")}")
    // NFKC folds compatibility characters NFC leaves alone
    val nfkc = Seq(("\ufb01le \uff24\uff25", "file DE")) // fi ligature, fullwidth
      .toDF("raw", "want")
      .select(TextAnalysis.normalizeUnicode(col("raw"), "NFKC").as("got"),
        col("want")).as[(String, String)].head()
    assert(nfkc._1 == nfkc._2)
    // NULL in, NULL out; bad form name fails at construction
    assert(df.select(TextAnalysis.normalizeUnicode(lit(null).cast("string")))
      .head().isNullAt(0))
    intercept[Exception] {
      df.select(TextAnalysis.normalizeUnicode(col("raw"), "NFX")).collect()
    }
  }

  test("index ingest tick: manifest-driven delta indexing, idempotent no-op, equals full rebuild") {
    import operators.Ranking
    val base = java.nio.file.Files
      .createTempDirectory("graft-idx-tick").toString
    val landing = s"$base/landing"
    val manifest = s"$base/manifest"
    val root = s"$base/idx"
    val docs = sources.Tables.documents(spark, sf).select("doc_id", "text")
    val wave1 = docs.filter(col("doc_id") % 3 =!= 0)
    val wave2 = docs.filter(col("doc_id") % 3 === 0)
    wave1.repartition(2).write.mode("append").parquet(landing)
    val n1 = Ranking.indexIngestTick(spark, landing, manifest, root,
      "doc_id", "text")
    assert(n1 == 2, s"first tick must ingest the landed files, got $n1")
    // clean tick: nothing new, nothing rewritten
    val v0 = sinks.ManifestTable.latestVersion(spark, s"$root/postings")
    assert(Ranking.indexIngestTick(spark, landing, manifest, root,
      "doc_id", "text") == 0)
    assert(sinks.ManifestTable.latestVersion(spark, s"$root/postings") == v0,
      "a no-op tick must not commit a new version")
    // wave 2 lands; only its files are read, index now covers the union
    wave2.repartition(1).write.mode("append").parquet(landing)
    assert(Ranking.indexIngestTick(spark, landing, manifest, root,
      "doc_id", "text") == 1)
    Ranking.optimizeIndex(spark, root, numFiles = 2)
    val fullRoot = s"$base/full"
    Ranking.buildInvertedIndex(docs, "doc_id", "text", fullRoot)
    def rows(r: String, sub: String) =
      sinks.ManifestTable.read(spark, s"$r/$sub")
    assert(rows(root, "postings").exceptAll(rows(fullRoot, "postings")).isEmpty
      && rows(fullRoot, "postings").exceptAll(rows(root, "postings")).isEmpty,
      "tick-maintained postings must equal the from-scratch build")
    assert(rows(root, "doclen").exceptAll(rows(fullRoot, "doclen")).isEmpty
      && rows(fullRoot, "doclen").exceptAll(rows(root, "doclen")).isEmpty)
  }
}
