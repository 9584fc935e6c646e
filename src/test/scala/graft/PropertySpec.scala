package graft

import graft.notion.{NotionExtract, NotionSchemas}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests promised by SURVEY §5: extractors never throw on
  * arbitrary payload nesting and honor first-match semantics;
  * stableEntityId is idempotent-safe; DST boundaries behave.
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic ScalaCheck sampling (scalatestplus bridge is not in
    * the offline cache; raw Gen + fixed seeds gives reproducible
    * property checks). */
  private def forAll[A](gen: Gen[A], trials: Int = 30)(body: A => Unit): Unit =
    (0 until trials).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i))
        .foreach(body)
    }
  import TestSpark._
  import spark.implicits._

  // -- generators for ragged Notion payload JSON ----------------------

  private val genLeaf: Gen[String] = Gen.oneOf(
    Gen.const("null"), Gen.const("42"), Gen.const("\"str\""),
    Gen.const("[]"), Gen.const("{}"), Gen.const("true"))

  private def genPayload(depth: Int): Gen[String] =
    if (depth <= 0) genLeaf
    else Gen.oneOf(
      genLeaf,
      for {
        t <- Gen.oneOf("date", "relation", "rollup", "title", "rich_text",
          "formula", "select", "status", "number", "bogus")
        inner <- genPayload(depth - 1)
        field <- Gen.oneOf("date", "relation", "rollup", "title", "rich_text",
          "formula", "select", "status", "number", "junk")
      } yield s"""{"type":"$t","$field":$inner}""")

  test("extractors never throw on arbitrarily ragged payloads (zod-parse analog)") {
    forAll(Gen.listOfN(20, genPayload(4))) { payloads =>
      val df = payloads.toDF("raw")
      val p = NotionExtract.parsed(col("raw"))
      // every extractor must evaluate to SOMETHING (null ok), never fail
      val out = df.select(
        NotionExtract.dateStart(p), NotionExtract.firstRelationId(p),
        NotionExtract.firstRollupRelationId(p), NotionExtract.firstRollupDateStart(p),
        NotionExtract.firstRollupRichText(p), NotionExtract.title(p),
        NotionExtract.formulaString(p), NotionExtract.firstDisplayText(p),
        NotionExtract.numberValue(p))
      assert(out.count() == payloads.size)
    }
  }

  test("firstRollupRelationId takes the first NON-EMPTY id (Array.find parity)") {
    forAll(Gen.listOfN(6, Gen.oneOf("", "aaaa", "bbbb", "cccc"))) { ids =>
      val arr = ids.map(id =>
        if (id.isEmpty) """{"type":"relation","relation":[]}"""
        else s"""{"type":"relation","relation":[{"id":"$id"}]}""").mkString(",")
      val payload = s"""{"type":"rollup","rollup":{"type":"array","array":[$arr]}}"""
      val got = Seq(payload).toDF("raw")
        .select(NotionExtract.firstRollupRelationId(NotionExtract.parsed(col("raw"))))
        .collect()(0).getString(0)
      assert(got == ids.find(_.nonEmpty).orNull)
    }
  }

  test("stableEntityId strips hyphens, lowercases, and is idempotent on its output") {
    forAll(Gen.zip(Gen.alphaNumStr.suchThat(_.length < 50),
        Gen.oneOf("x", "workflow_stage"))) { case (id, prefix) =>
        val once = Seq(id).toDF("id")
          .select(functions.Scalars.stableEntityId(prefix, col("id")))
          .collect()(0).getString(0)
        assert(once == s"${prefix}_${id.replace("-", "").toLowerCase}")
        // applying the normalization again changes nothing (no '-' left)
        assert(once.replace("-", "").toLowerCase == once.toLowerCase)
    }
  }

  test("Scalars.lowerCase is byte-identical to Spark's lower, interpreted and codegen'd") {
    // inputs travel as UTF-8 hex so the invalid sequence C3 28 reaches
    // both functions as the same bytes; results compare as hex too
    val texts = Seq("Hello WORLD 123", "ÀÉÎÕÜ Ça Øre", "ΟΔΟΣ", "\u0130", "\u212A",
      "\u1E9E\u00DF", "")
    val hexes = texts.map(_.getBytes("UTF-8").map("%02X".format(_)).mkString) ++
      Seq("C328", null)
    val src = hexes.toDF("h").select(unhex(col("h")).cast("string").as("s"))
    // a projection over a local relation is folded by interpreted eval;
    // behind a shuffle it runs in generated code
    for (df <- Seq(src, src.repartition(1))) {
      val rows = df.select(col("s"), hex(functions.Scalars.lowerCase(col("s"))),
        hex(lower(col("s")))).collect()
      assert(rows.length == hexes.size)
      rows.foreach(r => assert(r.get(1) == r.get(2), s"input ${r.get(0)}"))
    }
    val sigma = Seq("ΟΔΟΣ").toDF("s").repartition(1)
      .select(functions.Scalars.lowerCase(col("s"))).head().getString(0)
    assert(sigma == "\u03BF\u03B4\u03BF\u03C2") // final sigma: ς, not σ
  }

  test("Scalars.lowerUtf8 matches Spark's UTF8_BINARY lowercase on every code point") {
    import org.apache.spark.sql.catalyst.util.CollationAwareUTF8String
    import org.apache.spark.unsafe.types.UTF8String
    val diffs = (0 to Character.MAX_CODE_POINT).iterator
      .filterNot(cp => cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE)
      .map(cp => UTF8String.fromString(new String(Character.toChars(cp)) + "X"))
      .filter(u => functions.Scalars.lowerUtf8(u) != CollationAwareUTF8String.toLowerCase(u))
      .take(5).toList
    assert(diffs.isEmpty, s"first differing inputs: $diffs")
  }

  test("malformed date strings yield null everywhere, never throw (ANSI Date.parse-NaN parity)") {
    // the reference's Date.parse returns NaN on garbage → every derived
    // value is null; under ANSI a bare to_timestamp would throw instead
    val genDate: Gen[String] = Gen.oneOf(
      Gen.const("2024-03-10T09:59:00.000Z"),
      Gen.const("not-a-date"), Gen.const(""), Gen.const("2024-13-45T99:99:99Z"),
      Gen.const("garbage 2024"), Gen.const("1699999999999"),
      Gen.alphaNumStr.map(_.take(24)))
    forAll(Gen.listOfN(12, Gen.zip(genDate, genDate))) { pairs =>
      val df = pairs.toDF("started_at", "ended_at")
      val out = df.select(
        notion.Normalize.durationSeconds(col("started_at"), col("ended_at")).as("dur"),
        notion.Derive.pbiSerial(col("started_at")).as("serial"),
        notion.Derive.normIso(col("started_at")).as("iso"),
        notion.Derive.laDayIso(col("started_at")).as("day"),
        notion.Derive.laLabel(col("started_at")).as("label"))
        .collect() // must not throw
      assert(out.length == pairs.size)
      // Spark's cast accepts more shapes than strict ISO (e.g. "2024"),
      // so assert all-null only for definitely-unparseable inputs
      val garbage = Set("not-a-date", "", "2024-13-45T99:99:99Z", "garbage 2024")
      pairs.zip(out).foreach { case ((s, _), row) =>
        if (garbage(s))
          // dur/serial/iso/day/label all derive from started_at
          assert((0 until 5).forall(row.isNullAt),
            s"expected all-null for started_at='$s', got $row")
      }
    }
    // NEGATIVE_DURATION quality rule survives a corrupt date in the pair
    val ts = Seq(
      ("t1", "wf1", null, null, "2024-01-02T00:00:00Z", "2024-01-01T00:00:00Z"),
      ("t2", "wf1", null, null, "corrupt!!", "2024-01-01T00:00:00Z"))
      .toDF("timeslice_id", "workflow_definition_id", "from_step_id", "to_step_id",
        "started_at", "ended_at")
    val rules = notion.Quality.timesliceIssues(ts, "2024-01-05")
      .filter(col("rule") === "NEGATIVE_DURATION").collect()
    assert(rules.map(_.getAs[String]("entity_id")).toSeq == Seq("t1"))
  }

  test("LA day conversion is correct across the 2024-03-10 DST spring-forward") {
    // 09:59 UTC = 01:59 PST (UTC-8) Mar 10; 10:01 UTC = 03:01 PDT (UTC-7)
    val cases = Seq(
      ("2024-03-10T09:59:00.000Z", "2024-03-10", "2024-03-10 01:59"),
      ("2024-03-10T10:01:00.000Z", "2024-03-10", "2024-03-10 03:01"),
      ("2024-03-10T06:59:00.000Z", "2024-03-09", "2024-03-09 22:59"), // LA still Mar 9
      ("2024-11-03T08:30:00.000Z", "2024-11-03", "2024-11-03 01:30"), // fall-back: 1st 01:30 PDT
      ("2024-11-03T09:30:00.000Z", "2024-11-03", "2024-11-03 01:30")) // 2nd 01:30 PST
    val df = cases.map(_._1).toDF("iso")
      .select(col("iso"),
        notion.Derive.laDayIso(col("iso")).as("day"),
        notion.Derive.laLabel(col("iso")).as("label"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    cases.foreach { case (iso, day, label) =>
      assert(df(iso) == (s"${day}T00:00:00.000Z", label), s"at $iso")
    }
  }

  test("property: topk_freq exact mode equals groupBy top-k on random skewed data") {
    val genItems: Gen[List[String]] = for {
      nDistinct <- Gen.choose(1, 40)
      n <- Gen.choose(1, 400)
      // zipf-ish skew: item index drawn as min of two uniforms
      draws <- Gen.listOfN(n, for {
        a <- Gen.choose(0, nDistinct - 1); b <- Gen.choose(0, nDistinct - 1)
      } yield s"t${math.min(a, b)}")
    } yield draws
    forAll(genItems, trials = 8) { items =>
      val df = items.toDF("item").repartition(5)
      val exact = df.groupBy("item").count()
        .orderBy(col("count").desc, col("item"))
        .limit(10).as[(String, Long)].collect().toSeq
      val got = operators.Ranking.heavyHitters(df, "item", 10, capacity = 64)
        .select("item", "n").as[(String, Long)].collect().toSeq
      assert(got == exact, s"sketch(exact-mode) diverged on ${items.take(20)}…")
      // exact mode (capacity 64 > 40 distinct) must report err = 0
      assert(operators.Ranking.heavyHitters(df, "item", 10, 64)
        .select("err").as[Long].collect().forall(_ == 0L))
    }
  }

  test("property: topk_by equals window row_number under random data and partitionings") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val genRows: Gen[(List[(String, Long, Double)], Int)] = for {
      n <- Gen.choose(1, 300)
      nGrp <- Gen.choose(1, 6)
      nScore <- Gen.choose(1, 12) // few distinct scores → heavy ties
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, nGrp - 1); s <- Gen.choose(0, nScore - 1)
      } yield (s"g$g", 0L, s.toDouble))
      parts <- Gen.choose(1, 7)
    } yield (rows.zipWithIndex.map { case ((g, _, s), i) => (g, i.toLong, s) }, parts)
    forAll(genRows, trials = 8) { case (rows, parts) =>
      val df = rows.toDF("g", "id", "v").repartition(parts)
      val got = df.groupBy(col("g"))
        .agg(graft.functions.VectorExpressions
          .topkBy(col("v"), col("id"), 4).as("tk"))
        .select(col("g"), explode(col("tk")).as("e"))
        .select(col("g"), col("e.score"), col("e.id"))
        .as[(String, Double, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val want = df.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 4).select(col("g"), col("v"), col("id"))
        .as[(String, Double, Long)].collect().toSet
      assert(got == want, s"topk_by diverged at parts=$parts on ${rows.take(8)}…")
    }
  }

  test("property: KS is symmetric, in [0,1], and 0 iff multisets agree") {
    val genSets: Gen[(List[Long], List[Long])] = for {
      na <- Gen.choose(1, 120); nb <- Gen.choose(1, 120)
      a <- Gen.listOfN(na, Gen.choose(0L, 25L))
      b <- Gen.listOfN(nb, Gen.choose(0L, 25L))
    } yield (a, b)
    forAll(genSets, trials = 8) { case (a, b) =>
      val dfA = a.toDF("v"); val dfB = b.toDF("v")
      val ab = operators.Drift.ks(dfA, dfB, "v").collect()(0).getDouble(2)
      val ba = operators.Drift.ks(dfB, dfA, "v").collect()(0).getDouble(2)
      assert(ab == ba, "KS must be symmetric")
      assert(ab >= 0.0 && ab <= 1.0)
      val self = operators.Drift.ks(dfA, dfA, "v").collect()(0).getDouble(2)
      assert(self == 0.0, "identical multisets must score 0")
    }
  }

  test("property: weighted samples nest as expectedN grows") {
    val genW: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(5, 150)
      ws <- Gen.listOfN(n, Gen.choose(0L, 40L))
    } yield ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    forAll(genW, trials = 8) { rows =>
      val df = rows.toDF("id", "w")
      def draw(n: Double) = operators.Sampling
        .sampleByWeight(df, "id", "w", n)
        .select("id").as[Long].collect().toSet
      val s10 = draw(10.0); val s40 = draw(40.0)
      assert(s10.subsetOf(s40),
        "raising expectedN can only ADD rows (nested samples)")
      assert(s10.forall(id => rows(id.toInt)._2 > 0))
    }
  }

  test("property: distributed BPE equals a reference single-threaded trainer on random corpora") {
    // reference: the same greedy left-to-right merge + (count desc,
    // pair asc) argmax, in plain Scala over the word-count map
    def greedyMerge(syms: List[String], p: (String, String)): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      for (x <- syms)
        if (out.nonEmpty && out.last == p._1 && x == p._2) {
          out.remove(out.size - 1); out += (p._1 + p._2)
        } else out += x
      out.toList
    }
    def refLearn(words: Map[String, Long], numMerges: Int)
        : (List[(String, String)], Map[String, List[String]]) = {
      var vocab = words.map { case (w, n) =>
        w -> (n, w.map(_.toString).toList) }
      var rules = List.empty[(String, String)]
      var done = false
      while (rules.size < numMerges && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((_, (n, syms)) <- vocab if syms.size > 1;
             Seq(a, b) <- syms.sliding(2))
          counts((a, b)) = counts.getOrElse((a, b), 0L) + n
        if (counts.isEmpty) done = true
        else {
          val pair = counts.toSeq
            .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
          rules = rules :+ pair
          vocab = vocab.map { case (w, (n, syms)) =>
            w -> (n, greedyMerge(syms, pair)) }
        }
      }
      (rules, vocab.map { case (w, (_, syms)) => w -> syms })
    }
    val genCorpus: Gen[List[String]] = for {
      k <- Gen.choose(3, 7)
      ws <- Gen.listOfN(k,
        Gen.choose(1, 6).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("a", "b", "c")).map(_.mkString)))
      reps <- Gen.listOfN(k, Gen.choose(1, 4))
    } yield ws.zip(reps).flatMap { case (w, r) => List.fill(r)(w) }
    forAll(genCorpus, trials = 6) { corpus =>
      val docs = corpus.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val model = operators.Bpe.learn(docs, "text", numMerges = 5)
      val wordCounts = corpus.groupBy(identity)
        .map { case (w, ws) => w -> ws.size.toLong }
      val (refRules, refVocab) = refLearn(wordCounts, 5)
      assert(model.merges == refRules,
        s"merge sequence diverged on corpus $corpus")
      val gotVocab = model.vocab.select(col("word"), col("syms"))
        .as[(String, Seq[String])].collect()
        .map { case (w, s) => w -> s.toList }.toMap
      assert(gotVocab == refVocab,
        s"final symbolization diverged on corpus $corpus")
    }
  }

  test("property: sequential ids equal the sort rank under any input partitioning") {
    val genVals: Gen[List[Long]] = Gen.choose(5, 60).flatMap(k =>
      Gen.listOfN(k, Gen.choose(-1000000L, 1000000L)).map(_.distinct))
    forAll(genVals, trials = 6) { vals =>
      val df = scala.util.Random.shuffle(vals).toDF("v")
        .repartition(1 + vals.size % 5)
      val got = operators.Ids.withSequentialIds(df, Seq("v"), "rk",
        numPartitions = 1 + vals.size % 7)
        .select(col("v"), col("rk")).as[(Long, Long)].collect().toMap
      val want = vals.sorted.zipWithIndex
        .map { case (v, i) => v -> (i + 1L) }.toMap
      assert(got == want, s"rank diverged for $vals")
    }
  }
}
