package graft

import graft.sinks.pbi._
import graft.util.{LogicalClock, RateLimiter, Retry}
import org.scalatest.funsuite.AnyFunSuite

/** PBI push subsystem + infra operators, mirroring the reference's
  * retry.test.ts / rateLimit.test.ts timing suites on a LOGICAL clock
  * plus validator/planner/governor/registry coverage. */
class PbiSubsystemSpec extends AnyFunSuite {

  // --- I5/I4 model spec + validator ---------------------------------

  test("buildModelSpec declares 7 tables, 63 columns, 8 relationships and validates") {
    val spec = PbiSpec.buildModelSpec("ds")
    assert(spec.tables.size == 7)
    assert(spec.tables.map(_.columns.size).sum == 63)
    assert(spec.relationships.size == 8)
  }

  test("validator rejects duplicate (case-insensitive), unnamed, and oversized specs") {
    val base = PbiSpec.buildModelSpec("ds")
    def mutate(f: PbiSpec.DatasetSpec => PbiSpec.DatasetSpec): Unit =
      intercept[IllegalArgumentException](PbiSpec.validate(f(base)))
    mutate(s => s.copy(tables = s.tables :+ s.tables.head.copy(name = "FACTTIMESLICES")))
    mutate(s => s.copy(tables = s.tables.updated(0, s.tables.head.copy(name = " pad "))))
    mutate(s => s.copy(tables = s.tables.updated(0, s.tables.head.copy(name = "x" * 101))))
    mutate(s => s.copy(tables = s.tables.tail)) // missing required table
    mutate(s => s.copy(relationships = s.relationships :+
      s.relationships.head.copy(name = "r2", fromColumn = "no_such_column")))
    mutate(s => s.copy(relationships = s.relationships.updated(0,
      s.relationships.head.copy(crossFilteringBehavior = Some("Sideways")))))
  }

  // --- K4/K5 batching + planner -------------------------------------

  test("batchRows chunks at 10k and rejects oversized batch sizes") {
    val batches = Refresh.batchRows((1 to 25000).toSeq)
    assert(batches.map(_.size) == Seq(10000, 10000, 5000))
    intercept[IllegalArgumentException](Refresh.batchRows(Seq(1), 10001))
    intercept[IllegalArgumentException](Refresh.batchRows(Seq(1), 0))
  }

  test("wipeAndReload planner enforces exact table-set equality") {
    val spec = PbiSpec.buildModelSpec("ds")
    val full = spec.tables.map(t => t.name -> Seq.empty[Refresh.Row]).toMap
    val plan = Refresh.planWipeAndReload("g", "d", spec, full)
    assert(plan.tables.map(_._1) == spec.tables.map(_.name)) // spec order
    intercept[IllegalArgumentException](
      Refresh.planWipeAndReload("g", "d", spec, full - "DimDate"))
    intercept[IllegalArgumentException](
      Refresh.planWipeAndReload("g", "d", spec, full + ("Bogus" -> Seq.empty)))
  }

  // --- I3 governor (logical clock) ----------------------------------

  test("governor blocks at the posts/minute budget and unblocks when the window slides") {
    val clock = new LogicalClock
    val g = new Governor(Governor.Limits(maxRowsPerHour = 1000000,
      maxPostRequestsPerMinute = 2, maxPostRequestsPerHour = 100), clock)
    g.waitForBudget(10, 1); g.record(10, 1)
    g.waitForBudget(10, 1); g.record(10, 1)
    assert(clock.sleeps.isEmpty, "first two posts fit the budget")
    g.waitForBudget(10, 1) // third post must wait ~60s for the oldest to expire
    assert(clock.sleeps.nonEmpty && clock.sleeps.sum >= 59000,
      s"expected a ~minute sleep, got ${clock.sleeps}")
  }

  test("governor rows/hour budget blocks until the oldest row event expires") {
    val clock = new LogicalClock
    val g = new Governor(Governor.Limits(maxRowsPerHour = 100,
      maxPostRequestsPerMinute = 100, maxPostRequestsPerHour = 1000), clock)
    g.record(80, 1)
    clock.advance(1800000) // 30 min
    g.waitForBudget(30, 1) // 80+30 > 100 → wait the remaining ~30 min
    assert(clock.sleeps.sum >= 1790000 && clock.sleeps.sum <= 1810000,
      s"expected ~30min wait, got ${clock.sleeps.sum}")
  }

  test("governor rejects requests beyond configured ceilings") {
    val g = new Governor(Governor.Limits(maxRowsPerHour = 10,
      maxPostRequestsPerMinute = 1, maxPostRequestsPerHour = 2), new LogicalClock)
    intercept[IllegalArgumentException](g.waitForBudget(11, 0))
    intercept[IllegalArgumentException](g.waitForBudget(0, 2))
    intercept[IllegalArgumentException](g.record(-1, 0))
  }

  // --- I1 retry (mirrors retry.test.ts) -----------------------------

  test("429 honors retry-after seconds; then succeeds") {
    val clock = new LogicalClock
    var calls = 0
    val result = Retry.retry(Retry.RetryOptions(maxRetries = 5), clock, () => 0L) { () =>
      calls += 1
      if (calls == 1)
        throw Retry.HttpError(429, "slow down", Map("Retry-After" -> "1"))
      "ok"
    }
    assert(result == "ok" && calls == 2)
    assert(clock.sleeps == Seq(1000L), "retry-after 1s → sleep(1000)")
  }

  test("non-429 4xx does not retry") {
    var calls = 0
    val e = intercept[Retry.HttpError] {
      Retry.retry(Retry.RetryOptions(maxRetries = 5), new LogicalClock, () => 0L) { () =>
        calls += 1
        throw Retry.HttpError(404, "nope")
      }
    }
    assert(e.status == 404 && calls == 1)
  }

  test("5xx retries with capped exponential backoff + jitter, then exhausts") {
    val clock = new LogicalClock
    var calls = 0
    intercept[Retry.HttpError] {
      Retry.retry(Retry.RetryOptions(maxRetries = 3, baseDelayMs = 500,
        maxDelayMs = 10000), clock, () => 7L) { () =>
        calls += 1
        throw Retry.HttpError(503, "boom")
      }
    }
    assert(calls == 4) // initial + 3 retries
    assert(clock.sleeps == Seq(507L, 1007L, 2007L))
  }

  test("a fatal error propagates at once, without a retry or a sleep") {
    val clock = new LogicalClock
    Seq[Throwable](new StackOverflowError("deep"), new InterruptedException("stop"))
      .foreach { fatal =>
        var calls = 0
        val e = intercept[Throwable] {
          Retry.retry(Retry.RetryOptions(maxRetries = 5), clock, () => 0L) { () =>
            calls += 1
            throw fatal
          }
        }
        assert((e eq fatal) && calls == 1)
      }
    assert(clock.sleeps.isEmpty)
  }

  test("429 retry-after HTTP-date is honored relative to now") {
    val clock = new LogicalClock(start = 1700000000000L)
    val when = java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME.format(
      java.time.Instant.ofEpochMilli(1700000002000L).atZone(java.time.ZoneOffset.UTC))
    var calls = 0
    Retry.retry(Retry.RetryOptions(maxRetries = 2), clock, () => 0L) { () =>
      calls += 1
      if (calls == 1) throw Retry.HttpError(429, "later", Map("retry-after" -> when))
      "ok"
    }
    assert(clock.sleeps == Seq(2000L))
  }

  // --- I2 rate limiter (mirrors rateLimit.test.ts) -------------------

  test("3 rps limiter spaces 4 calls by >= 900ms of logical time") {
    val clock = new LogicalClock
    val rl = new RateLimiter(3, clock)
    val t0 = clock.nowMs()
    (1 to 4).foreach(_ => rl.schedule(() => ()))
    val elapsed = clock.nowMs() - t0
    assert(elapsed >= 900, s"4 calls at 3rps must take >=900ms, took $elapsed")
    assert(rl.minTimeMs == 334)
  }

  // --- K3 execution against the fake client --------------------------

  test("executeWipeAndReload wipes then posts in spec order under the governor") {
    val spec = PbiSpec.buildModelSpec("ds")
    val clock = new LogicalClock
    val client = new Refresh.FakeClient
    val rows = spec.tables.map { t =>
      val n = if (t.name == "FactTimeslices") 15000 else 3
      t.name -> (1 to n).map(i => Map[String, Any]("i" -> i)).toSeq
    }.toMap
    val totals = Refresh.executeWipeAndReload(client, "g", "d", spec, rows,
      Governor.Limits(), clock)
    assert(totals.tablesProcessed == 7)
    assert(totals.totalRowsPosted == 15000 + 6 * 3)
    assert(totals.totalPostRequests == 2 + 6) // fact splits into 2 batches
    // delete always precedes posts per table; tables in spec order
    val factDelete = client.calls.indexOf("delete:FactTimeslices")
    val factPost = client.calls.indexWhere(_.startsWith("post:FactTimeslices"))
    assert(factDelete >= 0 && factDelete < factPost)
    assert(client.tableRows("g/d/FactTimeslices").size == 15000)
  }

  test("executeWipeAndReload rejects mismatched table sets") {
    val spec = PbiSpec.buildModelSpec("ds")
    intercept[IllegalArgumentException] {
      Refresh.executeWipeAndReload(new Refresh.FakeClient, "g", "d", spec,
        Map("FactTimeslices" -> Seq.empty), clock = new LogicalClock)
    }
  }

  // --- K9/K8 registry + ensure ---------------------------------------

  test("registry round-trips, upserts, and resolves most-recent entries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reg").toString
    var now = "2026-01-01T00:00:00Z"
    val clockIso = () => now
    var reg = Registry.load(dir, clockIso)
    reg = Registry.upsert(reg, "g1", "Alpha", "ds-1", nowIso = clockIso)
    now = "2026-01-02T00:00:00Z"
    reg = Registry.upsert(reg, "g1", "Beta", "ds-2", nowIso = clockIso)
    Registry.save(dir, reg)
    val loaded = Registry.load(dir, clockIso)
    assert(loaded.entries.size == 2)
    assert(Registry.findDatasetId(loaded, "g1", "ALPHA").contains("ds-1"))
    assert(Registry.findMostRecentEntryForGroup(loaded, "g1").map(_.datasetName)
      .contains("Beta"))
    // legacy workspaceId alias accepted
    java.nio.file.Files.write(java.nio.file.Paths.get(Registry.path(dir)),
      """{"entries":[{"workspaceId":"g2","datasetName":"Legacy","datasetId":"ds-9"}]}"""
        .getBytes("UTF-8"))
    val legacy = Registry.load(dir, clockIso)
    assert(Registry.findDatasetId(legacy, "g2", "legacy").contains("ds-9"))
  }

  test("ensureDataset creates once, then reuses the registry id and adds missing tables only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reg2").toString
    val client = new Refresh.FakeClient
    val spec = PbiSpec.buildModelSpec("MyDataset")
    val id1 = Registry.ensureDataset(client, dir, "g", spec)
    val created = client.calls.count(_.startsWith("create:"))
    val id2 = Registry.ensureDataset(client, dir, "g", spec)
    assert(id1 == id2)
    assert(client.calls.count(_.startsWith("create:")) == created, "no second create")
    assert(!client.calls.exists(_.startsWith("putTable:")),
      "no table upserts when schema already complete")
  }

  // --- K7 token cache -------------------------------------------------

  test("token cache reuses until 60s before expiry, then refreshes; retries through 429") {
    val clock = new LogicalClock
    var failNext = false
    val cache = new graft.sinks.pbi.TokenCache(() => {
      if (failNext) { failNext = false; throw Retry.HttpError(429, "slow", Map("retry-after" -> "1")) }
      (s"tok-${clock.nowMs()}", 3600L) // 1h expiry
    }, clock, jitter = () => 0L)
    val t1 = cache.accessToken()
    clock.advance(3600000L - 61000L) // 61s before expiry: still cached
    assert(cache.accessToken() == t1 && cache.fetchCount == 1)
    clock.advance(2000L) // now within the 60s early-expiry window
    failNext = true // refresh must retry through a 429
    val t2 = cache.accessToken()
    assert(t2 != t1 && cache.fetchCount == 3, "one failed + one successful fetch")
    assert(clock.sleeps.contains(1000L), "429 retry-after honored during refresh")
  }
}
