package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Group-commit coalescing, observed without a timing race: the first
  * writer's delta holds its leader inside the commit until every other
  * writer has queued its op and is blocked on the leader lock, so the next
  * leader must drain all of them in one batch.
  */
class GroupCommitSpec extends AnyFunSuite {

  private val hourNs = 3600L * 1000000000L

  private def chunk(path: String, h: Long) = ChunkMeta(path, h * hourNs, h * hourNs + 1, 1, 1)

  /** True once `t` waits to enter the committer's leader section: its op is
    * queued (enqueue comes before the leadership attempt) and it holds no
    * other lock.
    */
  private def blockedOnLeaderLock(t: Thread): Boolean =
    t.getState == Thread.State.BLOCKED &&
      t.getStackTrace.headOption.exists(_.getClassName.endsWith("GroupCommitter"))

  test("a round of 8 writers lands in exactly 2 commits: the held leader's, " +
    "then one for the 7 ops queued behind it") {
    val dir = Files.createTempDirectory("graft_group_commit_")
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
