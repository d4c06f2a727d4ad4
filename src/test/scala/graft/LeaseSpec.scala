package graft

import java.util.concurrent.atomic.AtomicLong
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{ChunksAlreadyLeasedException, CompactionLease, LeaseStatus, LeaseStore}
import graft.util.ShmDirs

/** Compaction-lease mutual exclusion, porting the reference's
  * tests/compaction_lease_tests.rs shapes (acquire/conflict/partial-overlap/
  * complete/fail/renew/scavenge/lifecycle/multi-node) onto the filesystem CAS
  * store, plus the races the reference can't unit-test against real S3:
  * concurrent acquirers of the same and of disjoint chunk sets.
  */
class LeaseSpec extends AnyFunSuite {

  private def store(clock: () => Long = () => System.currentTimeMillis(),
      ttlMs: Long = 300000L): LeaseStore =
    new LeaseStore(ShmDirs.tempDir("graft_lease_"), ttlMs = ttlMs,
      clock = clock)

  test("acquire succeeds and records holder, chunks, level, active status") {
    val ls = store()
    val l = ls.acquire("node-1", Seq("c1", "c2"), level = 2)
    assert(l.holderId == "node-1")
    assert(l.chunks == Seq("c1", "c2"))
    assert(l.level == 2)
    assert(l.status == LeaseStatus.Active)
    assert(l.expiresAtMs > l.acquiredAtMs)
    assert(ls.loadAll().keySet == Set(l.leaseId))
  }

  test("acquire conflicts on full and partial overlap; disjoint sets coexist") {
    val ls = store()
    ls.acquire("n1", Seq("a", "b"), 0)
    val full = intercept[ChunksAlreadyLeasedException](ls.acquire("n2", Seq("a", "b"), 0))
    assert(full.conflicts.toSet == Set("a", "b"))
    // partial overlap names exactly the conflicting chunks
    val part = intercept[ChunksAlreadyLeasedException](ls.acquire("n2", Seq("b", "c"), 0))
    assert(part.conflicts == Seq("b"))
    // disjoint acquisition from another node is fine
    val l2 = ls.acquire("n2", Seq("c", "d"), 1)
    assert(ls.activeLeasedChunks() == Set("a", "b", "c", "d"))
    assert(l2.holderId == "n2")
  }

  test("complete releases the chunks; completed lease is scavengeable") {
    val ls = store()
    val l = ls.acquire("n1", Seq("x"), 0)
    ls.complete(l.leaseId)
    assert(ls.loadAll()(l.leaseId).status == LeaseStatus.Completed)
    // chunks re-acquirable immediately after completion
    val l2 = ls.acquire("n2", Seq("x"), 0)
    assert(l2.holderId == "n2")
    // scavenge drops terminal leases, keeps the active one
    assert(ls.scavenge() == 1)
    assert(ls.loadAll().keySet == Set(l2.leaseId))
  }

  test("fail releases the chunks like complete") {
    val ls = store()
    val l = ls.acquire("n1", Seq("x"), 0)
    ls.fail(l.leaseId)
    assert(ls.loadAll()(l.leaseId).status == LeaseStatus.Failed)
    ls.acquire("n2", Seq("x"), 0) // no conflict
    assert(ls.scavenge() == 1)
  }

  test("complete/fail of a nonexistent lease is a no-op (may have been scavenged)") {
    val ls = store()
    ls.complete("ghost")
    ls.fail("ghost")
    assert(ls.loadAll().isEmpty)
  }

  test("renew extends expiry; renewing terminal or missing leases fails") {
    val now = new AtomicLong(1000000L)
    val ls = store(clock = () => now.get())
    val l = ls.acquire("n1", Seq("x"), 0)
    now.addAndGet(60000L)
    ls.renew(l.leaseId)
    val renewed = ls.loadAll()(l.leaseId)
    assert(renewed.expiresAtMs == now.get() + 300000L)
    assert(renewed.expiresAtMs > l.expiresAtMs)
    ls.complete(l.leaseId)
    intercept[IllegalStateException](ls.renew(l.leaseId))
    intercept[IllegalStateException](ls.renew("ghost"))
  }

  test("expired active lease neither blocks acquire nor survives scavenge") {
    val now = new AtomicLong(1000000L)
    val ls = store(clock = () => now.get(), ttlMs = 5000L)
    val dead = ls.acquire("n1", Seq("x"), 0)
    now.addAndGet(5001L) // past TTL: holder presumed dead
    val l2 = ls.acquire("n2", Seq("x"), 0)
    assert(l2.holderId == "n2")
    // the takeover also persisted the expired lease's removal
    assert(ls.loadAll().keySet == Set(l2.leaseId))
    assert(!ls.loadAll().contains(dead.leaseId))
  }

  test("scavenge with nothing to do returns 0 and commits nothing") {
    val ls = store()
    assert(ls.scavenge() == 0)
    ls.acquire("n1", Seq("x"), 0)
    assert(ls.scavenge() == 0) // all active and unexpired
  }

  test("full lifecycle: acquire -> renew -> complete -> scavenge -> reacquire") {
    val ls = store()
    val l = ls.acquire("n1", Seq("c1", "c2", "c3"), 1)
    ls.renew(l.leaseId)
    ls.complete(l.leaseId)
    assert(ls.scavenge() == 1)
    assert(ls.loadAll().isEmpty)
    val l2 = ls.acquire("n1", Seq("c1", "c2", "c3"), 1)
    assert(l2.leaseId != l.leaseId)
  }

  test("CAS race: concurrent acquirers of the SAME chunks -> exactly one winner") {
    val dir = ShmDirs.tempDir("graft_lease_")
    // separate store instances: nothing shared in memory, like separate JVMs
    val n = 6
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, CompactionLease]]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to n).map { i =>
      val t = new Thread(() => {
        val ls = new LeaseStore(dir, baseBackoffMs = 5L, maxCasRetries = 20)
        start.await()
        try results.add(Right(ls.acquire(s"node-$i", Seq("hot-chunk"), 0)))
        catch { case e: Throwable => results.add(Left(e)) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(30000))
    val (losers, winners) = results.toArray(Array.empty[Either[Throwable, CompactionLease]])
      .partition(_.isLeft)
    assert(winners.length == 1, s"exactly one acquire must win, got ${winners.length}")
    assert(losers.length == n - 1)
    losers.foreach(l => assert(l.swap.exists(_.isInstanceOf[ChunksAlreadyLeasedException]),
      s"losers must see ChunksAlreadyLeased, got $l"))
  }

  test("CAS race: concurrent acquirers of DISJOINT chunks -> all succeed") {
    val dir = ShmDirs.tempDir("graft_lease_")
    val n = 6
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to n).map { i =>
      val t = new Thread(() => {
        val ls = new LeaseStore(dir, baseBackoffMs = 5L, maxCasRetries = 30)
        start.await()
        try ls.acquire(s"node-$i", Seq(s"chunk-$i"), 0)
        catch { case e: Throwable => errors.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(30000))
    assert(errors.isEmpty, s"disjoint acquires must all retry through conflicts: $errors")
    val ls = new LeaseStore(dir)
    assert(ls.activeLeasedChunks() == (1 to n).map(i => s"chunk-$i").toSet)
  }

  test("leases are visible across store instances (document on disk, not memory)") {
    val dir = ShmDirs.tempDir("graft_lease_")
    val a = new LeaseStore(dir)
    val b = new LeaseStore(dir)
    val l = a.acquire("node-a", Seq("x"), 0)
    intercept[ChunksAlreadyLeasedException](b.acquire("node-b", Seq("x"), 0))
    b.complete(l.leaseId) // any instance can transition it
    assert(a.loadAll()(l.leaseId).status == LeaseStatus.Completed)
  }
}
