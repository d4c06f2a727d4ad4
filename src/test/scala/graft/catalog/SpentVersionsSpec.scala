package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.util.ShmDirs

/** The spent-version ledger keeps the manifest/lease CAS resurrection guard
  * while staying bounded (floor compaction) — the r8 fix for the
  * marker-file-per-commit growth the original guard cost (~400k inodes/day at
  * the measured catalog commit rate). The ledger exposes exactly the fused
  * protocol ([[SpentVersions.linkFresh]] + cleanup-side
  * [[SpentVersions.markSpent]]); the superseded split link-then-mark entry
  * point was removed in r10 (ADVICE) so it cannot be reintroduced.
  */
class SpentVersionsSpec extends AnyFunSuite {

  private def freshDir() = ShmDirs.tempDir("graft_spent_")

  private def entryCount(dir: java.nio.file.Path): Long = {
    val s = Files.list(dir)
    try s.count()
    finally s.close()
  }

  /** Probe whether `version` is spent WITHOUT mutating the ledger when it is:
    * a refused linkFresh has no side effects. A fresh version links a probe
    * file into `scratch` (and thereby spends the number — callers use
    * ascending probes or expect the spend).
    */
  private def linkProbe(dir: java.nio.file.Path, scratch: java.nio.file.Path,
                        version: Long, tag: String): Boolean = {
    val tmp = scratch.resolve(s".tmp-$tag")
    if (!Files.exists(tmp)) Files.write(tmp, tag.getBytes)
    SpentVersions.linkFresh(dir, version, scratch.resolve(s"probe-$tag"), tmp)
  }

  test("linkFresh: spent number refused before linking; EEXIST loses; success is proof of commit") {
    val dir = freshDir()
    val files = freshDir()
    def tmpFile(s: String): java.nio.file.Path = {
      val p = files.resolve(s".tmp-$s")
      Files.write(p, s.getBytes)
      p
    }
    // fresh number: links
    assert(SpentVersions.linkFresh(dir, 1L, files.resolve("v1"), tmpFile("a")))
    assert(Files.exists(files.resolve("v1")))
    // same number again: file exists -> EEXIST -> lost race (marker absent!)
    assert(!SpentVersions.linkFresh(dir, 1L, files.resolve("v1"), tmpFile("b")))
    // successor spends 1 during cleanup (markSpent-before-delete), deletes it
    SpentVersions.markSpent(dir, 1L)
    Files.delete(files.resolve("v1"))
    // lagging writer re-targeting the cleaned-up number: refused BEFORE the
    // link — no zombie file is created
    assert(!SpentVersions.linkFresh(dir, 1L, files.resolve("v1"), tmpFile("c")))
    assert(!Files.exists(files.resolve("v1")))
    // numbers at or under a raised floor are refused the same way
    (2L to 1024L).foreach(v =>
      assert(SpentVersions.linkFresh(dir, v, files.resolve(s"v$v"), tmpFile(s"d$v"))))
    SpentVersions.compact(dir, 1024L)
    assert(!SpentVersions.linkFresh(dir, 512L, files.resolve("v512b"), tmpFile("e")))
    assert(!Files.exists(files.resolve("v512b")))
    assert(SpentVersions.linkFresh(dir, 1025L, files.resolve("v1025"), tmpFile("f")))
  }

  test("markSpent is idempotent and guards the number against a later linkFresh") {
    val dir = freshDir()
    val scratch = freshDir()
    SpentVersions.markSpent(dir, 1L)
    SpentVersions.markSpent(dir, 1L) // idempotent: no throw, no double marker
    assert(!linkProbe(dir, scratch, 1L, "p1"), "marked version must be refused")
    assert(linkProbe(dir, scratch, 2L, "p2"), "unmarked version still commits")
  }

  test("compact raises the floor, drops covered markers, keeps the guard") {
    val dir = freshDir()
    val scratch = freshDir()
    (1L to 2048L).foreach(v => SpentVersions.markSpent(dir, v))
    SpentVersions.compact(dir, 2048L)
    // every individual marker ≤ 2048 is gone; the floor file + .lock remain
    assert(entryCount(dir) <= 3, "compaction must drop covered markers")
    // the guard survives the deletion: any covered version is still spent
    assert(!linkProbe(dir, scratch, 1L, "c1"))
    assert(!linkProbe(dir, scratch, 2048L, "c2048"))
    // and fresh versions still commit
    assert(linkProbe(dir, scratch, 2049L, "c2049"))
  }

  test("markSpent below the floor does not regrow marker files") {
    val dir = freshDir()
    (1L to 1024L).foreach(v => SpentVersions.markSpent(dir, v))
    SpentVersions.compact(dir, 1024L)
    val n0 = entryCount(dir)
    (1L to 100L).foreach(v => SpentVersions.markSpent(dir, v))
    assert(entryCount(dir) == n0, "covered versions need no marker")
  }

  test("repeated compaction replaces the floor file instead of accumulating") {
    val dir = freshDir()
    val scratch = freshDir()
    (1L to 1024L).foreach(v => SpentVersions.markSpent(dir, v))
    SpentVersions.compact(dir, 1024L)
    (1025L to 2048L).foreach(v => SpentVersions.markSpent(dir, v))
    SpentVersions.compact(dir, 2048L)
    val s = Files.list(dir)
    val floors =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("floor.")).toList
      } finally s.close()
    assert(floors == List("floor.2048"), s"stale floors must be dropped: $floors")
    assert(!linkProbe(dir, scratch, 1500L, "r1500"))
  }

  test("off-cycle versions skip compaction entirely") {
    val dir = freshDir()
    (1L to 10L).foreach(v => SpentVersions.markSpent(dir, v))
    SpentVersions.compact(dir, 10L) // 10 % 1024 != 0 → no-op
    assert(entryCount(dir) >= 10L)
  }

  test("catalog end-to-end: 1100 commits cross the compaction point and stay bounded") {
    val root = ShmDirs.tempDir("graft_cat_spent_")
    val cat = new ChunkCatalog(root, cacheTtlMs = 0L)
    val hourNs = 3600L * 1000000000L
    (1 to 1100).foreach { i =>
      cat.register(ChunkMeta(s"chunks/c$i", (i % 48) * hourNs,
        (i % 48) * hourNs + hourNs - 1, 10, 1000, 0))
    }
    val markers = root.resolve(".versions")
    assert(entryCount(markers) < 200,
      s"ledger must stay bounded after compaction, saw ${entryCount(markers)}")
    // a fresh instance reassembles the full state from the sharded layout
    val cat2 = new ChunkCatalog(root, cacheTtlMs = 0L)
    assert(cat2.state.chunks.size == 1100)
    // and further commits still work on both instances
    cat2.register(ChunkMeta("chunks/extra", 0L, hourNs - 1, 10, 1000, 0))
    cat.invalidateCache()
    assert(cat.state.chunks.contains("chunks/extra"))
  }

  test("lease store end-to-end: commit churn crosses compaction and stays bounded") {
    val root = ShmDirs.tempDir("graft_lease_spent_")
    val store = new LeaseStore(root)
    (1 to 360).foreach { i =>
      val l = store.acquire("n1", Seq(s"chunks/x$i"), 0)
      store.complete(l.leaseId)
      store.scavenge()
    }
    val markers = root.resolve(".versions")
    assert(entryCount(markers) < 200,
      s"lease ledger must stay bounded, saw ${entryCount(markers)}")
    // the store still functions after compaction
    val l = store.acquire("n1", Seq("chunks/final"), 0)
    assert(store.activeLeasedChunks().contains("chunks/final"))
    store.complete(l.leaseId)
  }
}
