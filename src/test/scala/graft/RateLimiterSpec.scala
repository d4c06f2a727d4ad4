package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.server.RateLimiter
import graft.server.RateLimiter._
import graft.util.ShmDirs

/** Per-tenant rate limiting (reference src/rate_limit.rs — its unit tests
  * ported 1:1, plus the two refill quirks the reference's tests don't pin)
  * and its HTTP wiring (429 + Retry-After; the reference never wires its
  * module — the wiring is this repo's completion, like downsample_after_days).
  */
class RateLimiterSpec extends AnyFunSuite {

  /** Manually advanced clock for deterministic refill tests. */
  private final class FakeClock(var ns: Long = 0L) { def now(): Long = ns }

  test("token bucket: full capacity, then empty (rate_limit.rs test_token_bucket)") {
    val rl = new RateLimiter(TenantQuota(maxWriteRps = 1000, maxWriteBytesPerSec = 10))
    assert(rl.checkWrite("t", 5).isAllowed)
    assert(rl.checkWrite("t", 5).isAllowed)
    assert(!rl.checkWrite("t", 1).isAllowed)
  }

  test("write RPS: two pass, third denied (rate_limit.rs test_rate_limiter_write)") {
    val clock = new FakeClock
    val rl = new RateLimiter(TenantQuota(maxWriteRps = 2), clock.now _)
    assert(rl.checkWrite("tenant1", 100).isAllowed)
    assert(rl.checkWrite("tenant1", 100).isAllowed)
    rl.checkWrite("tenant1", 100) match {
      case Denied(d: WriteRpsExceeded) => assert(d.limit == 2)
      case other => fail(s"expected WriteRpsExceeded, got $other")
    }
  }

  test("concurrent queries: slots held until completed (test_rate_limiter_concurrent_queries)") {
    val rl = new RateLimiter(TenantQuota(maxQueryRps = 1000, maxConcurrentQueries = 2))
    assert(rl.checkQuery("tenant1").isAllowed)
    assert(rl.checkQuery("tenant1").isAllowed)
    rl.checkQuery("tenant1") match {
      case Denied(d: ConcurrentQueriesExceeded) => assert(d.max == 2)
      case other => fail(s"expected ConcurrentQueriesExceeded, got $other")
    }
    rl.queryCompleted("tenant1")
    assert(rl.checkQuery("tenant1").isAllowed)
  }

  test("refill: tokens return at the configured rate; fractional accrual survives") {
    val clock = new FakeClock
    val rl = new RateLimiter(TenantQuota(maxQueryRps = 1, maxConcurrentQueries = 100), clock.now _)
    assert(rl.checkQuery("t").isAllowed)
    assert(!rl.checkQuery("t").isAllowed) // bucket empty at t=0
    // the reference only resets the refill clock when ≥1 whole token accrued
    // (rate_limit.rs:91-103): two half-second probes must still add up
    clock.ns = 500000000L
    assert(!rl.checkQuery("t").isAllowed)
    clock.ns = 1000000000L
    assert(rl.checkQuery("t").isAllowed, "two half-seconds must accrue one token")
  }

  test("reference quirk kept: a bytes-denied write still consumed its RPS token") {
    val clock = new FakeClock
    val rl = new RateLimiter(TenantQuota(maxWriteRps = 2, maxWriteBytesPerSec = 10), clock.now _)
    rl.checkWrite("t", 100) match { // bytes over capacity → denied...
      case Denied(_: WriteBytesExceeded) => ()
      case other => fail(s"expected WriteBytesExceeded, got $other")
    }
    assert(rl.checkWrite("t", 1).isAllowed)
    rl.checkWrite("t", 1) match { // ...but 2 RPS tokens are now gone (1 burned)
      case Denied(_: WriteRpsExceeded) => ()
      case other => fail(s"expected WriteRpsExceeded (burned token), got $other")
    }
  }

  test("usage reporting and per-tenant isolation") {
    val rl = new RateLimiter(TenantQuota(maxQueryRps = 10, maxConcurrentQueries = 5))
    assert(rl.getUsage("a").isEmpty) // unseen tenant
    assert(rl.checkQuery("a").isAllowed)
    val u = rl.getUsage("a").get
    assert(u.queryRpsAvailable == 9 && u.concurrentQueries == 1)
    // tenant b has its own buckets
    assert(rl.getUsage("b").isEmpty)
    assert(rl.checkQuery("b").isAllowed)
    assert(rl.getUsage("a").get.queryRpsAvailable == 9)
  }

  test("HTTP wiring: denied tenants get 429 + Retry-After; default tenant unaffected") {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.net.URI
    val spark = SparkTestBase.spark
    val cat = new graft.catalog.ChunkCatalog(
      ShmDirs.tempDir("graft_rl_"), cacheTtlMs = 0L)
    val t0 = 1704067200L * 1000000000L
    new graft.ingest.ChunkWriter(cat).write(graft.ingest.Converters.pointsToDf(spark,
      Seq(graft.ingest.MetricPoint(t0, "m", 1.0, Map("host" -> "h")))))
    val api = new graft.server.HttpApi(new graft.engine.QueryEngine(spark, cat), port = 0).start()
    try {
      val port = api.boundPort
      val client = HttpClient.newHttpClient()
      def get(path: String, tenant: Option[String]): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET()
        tenant.foreach(b.header("X-Graft-Tenant", _))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      val q = "/api/v1/sql?query=" + java.net.URLEncoder.encode(
        s"SELECT COUNT(*) AS c FROM metrics WHERE timestamp_ns >= $t0", "UTF-8")
      // a tenant with zero query slots is deterministically denied
      api.rateLimiter.setTenantQuota("blocked", TenantQuota(maxConcurrentQueries = 0))
      val denied = get(q, Some("blocked"))
      assert(denied.statusCode() == 429)
      assert(denied.headers().firstValue("Retry-After").isPresent)
      assert(denied.body().contains("concurrent query limit"))
      // the default tenant's generous quota is untouched
      assert(get(q, None).statusCode() == 200)
      // write-bytes quota: 1-byte/s budget rejects any real body
      api.rateLimiter.setTenantQuota("tinywriter", TenantQuota(maxWriteBytesPerSec = 1))
      val put = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/v1/write"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(Array.fill[Byte](64)(1)))
        .header("X-Graft-Tenant", "tinywriter").build(),
        HttpResponse.BodyHandlers.ofString())
      assert(put.statusCode() == 429 && put.body().contains("byte rate limit"))
    } finally api.stop()
  }
}
