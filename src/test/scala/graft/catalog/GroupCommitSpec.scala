package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.util.ShmDirs

/** Group-commit coalescing and the lost-CAS retry, observed without a timing
  * race: the first writer's delta holds its leader inside the commit until
  * the other writers — threads queued behind the leader lock, or a child
  * process that commits past it — have acted.
  */
class GroupCommitSpec extends AnyFunSuite {

  private val hourNs = 3600L * 1000000000L

  private def chunk(path: String, h: Long) = ChunkMeta(path, h * hourNs, h * hourNs + 1, 1, 1)

  private def listNames(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally s.close()
  }

  private def liveManifests(dir: java.nio.file.Path): Seq[Long] =
    listNames(dir).flatMap(ChunkCatalog.manifestVersionOf)

  /** True once `t` waits to enter the committer's leader section: its op is
    * queued (enqueue comes before the leadership attempt) and it holds no
    * other lock.
    */
  private def blockedOnLeaderLock(t: Thread): Boolean =
    t.getState == Thread.State.BLOCKED &&
      t.getStackTrace.headOption.exists(_.getClassName.endsWith("GroupCommitter"))

  test("a child process commits while the leader is held: the leader loses the " +
    "CAS, re-evaluates its delta once against the child's commit and lands both") {
    val dir = ShmDirs.tempDir("graft_group_commit_xproc_")
    val cat = new ChunkCatalog(dir, cacheTtlMs = 0L)
    cat.register(chunk("seed", 0))
    val v0 = cat.state.version
    val inCommit = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val evals = new java.util.concurrent.atomic.AtomicInteger()
    val error = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val leader = new Thread(() =>
      try ChunkCatalog.committerFor(dir).run(cat, _ => {
        evals.incrementAndGet()
        inCommit.countDown()
        release.await(60, java.util.concurrent.TimeUnit.SECONDS)
        ChunkCatalog.Plan[Any](Nil, Seq(chunk("parent", 0)), st => st, ())
      }) catch { case e: Throwable => error.set(e) })
    leader.start()
    assert(inCommit.await(60, java.util.concurrent.TimeUnit.SECONDS))
    // the child registers into the same shard and exits while our leader
    // still holds the state it loaded at v0
    val ready = dir.resolve("child.ready")
    val go = dir.resolve("child.go")
    val child = graft.ChildJvm.start("graft.catalog.CommitChild",
      dir.toString, ready.toString, go.toString, "chunk:child:0")
    try {
      child.awaitFile(ready, 60)
      Files.createFile(go)
      assert(child.await(120).linesIterator.contains("evals 1"))
    } finally child.close()
    release.countDown()
    leader.join(60000)
    assert(!leader.isAlive && error.get == null, s"leader failed: ${error.get}")
    assert(evals.get == 2, s"held delta evaluated ${evals.get} times")
    val after = new ChunkCatalog(dir, cacheTtlMs = 0L).state
    assert(after.version - v0 == 2)
    assert(Set("seed", "child", "parent").subsetOf(after.chunks.keySet))
    assert(liveManifests(dir) == Seq(after.version))
    val m = ChunkCatalog.parseManifest(new String(Files.readAllBytes(
      dir.resolve(ChunkCatalog.manifestFileName(after.version))), "UTF-8"))
    assert(listNames(dir.resolve("shards")).toSet == m.shards.map(_.file).toSet,
      "shards/ holds only the files the live manifest references")
  }

  test("a round of 8 writers lands in exactly 2 commits: the held leader's, " +
    "then one for the 7 ops queued behind it") {
    val dir = ShmDirs.tempDir("graft_group_commit_")
    val n = 8
    val rounds = 5
    val cats = (0 until n).map(_ => new ChunkCatalog(dir, cacheTtlMs = 0L))
    cats(0).register(chunk("seed", 0))
    val committer = ChunkCatalog.committerFor(dir)
    (0 until rounds).foreach { j =>
      val v0 = new ChunkCatalog(dir, cacheTtlMs = 0L).state.version
      val inCommit = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def thread(body: => Unit): Thread = {
        val t = new Thread(() => try body catch { case e: Throwable => errors.add(e) })
        t.start(); t
      }
      val leader = thread {
        committer.run(cats(0), _ => {
          inCommit.countDown()
          release.await(60, java.util.concurrent.TimeUnit.SECONDS)
          ChunkCatalog.Plan[Any](Nil, Seq(chunk(s"lead-$j", j + 1L)), st => st, ())
        })
      }
      assert(inCommit.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val followers = (1 until n).map(i => thread(cats(i).register(chunk(s"f-$i-$j", j + 1L))))
      val deadline = System.currentTimeMillis() + 60000L
      while (!followers.forall(blockedOnLeaderLock) && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      assert(followers.forall(blockedOnLeaderLock), "premise: every follower queued behind the leader")
      release.countDown()
      (leader +: followers).foreach(_.join(60000))
      assert(errors.isEmpty, errors.toString)
      val after = new ChunkCatalog(dir, cacheTtlMs = 0L).state
      assert(after.version - v0 == 2, s"round $j: ${after.version - v0} commits for $n mutations")
      assert(after.chunks.contains(s"lead-$j") &&
        (1 until n).forall(i => after.chunks.contains(s"f-$i-$j")), s"round $j lost a mutation")
    }
  }
}
