package graft.catalog

import java.nio.file.{Files, Paths}

/** Test-only main: one writer PROCESS for the cross-process commit tests,
  * started through [[graft.ChildJvm]].
  *
  *   CommitChild <root> <readyFile> <goFile> <mutation>...
  *
  * Opens the catalog at `root`, creates `readyFile`, waits (at most 60 s) for
  * `goFile` to exist, then commits each mutation in order through the
  * production commit path, `ChunkCatalog.committerFor(root).run`. A mutation
  * is `chunk:<path>:<hour>` (register a one-hour chunk) or `defer:<path>`
  * (a pending delete due at 1 h). The last line printed is `evals <n>`: how
  * many times its deltas were evaluated — one per mutation plus one per lost
  * CAS, since a single-threaded writer never coalesces.
  */
object CommitChild {

  private val hourNs = 3600L * 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(root, ready, go) = args.take(3)
    val cat = new ChunkCatalog(Paths.get(root), cacheTtlMs = 0L)
    Files.createFile(Paths.get(ready))
    val deadline = System.currentTimeMillis() + 60000L
    while (!Files.exists(Paths.get(go))) {
      if (System.currentTimeMillis() > deadline) sys.exit(2)
      Thread.sleep(1)
    }
    var evals = 0
    args.drop(3).foreach { m =>
      val plan = m.split(":") match {
        case Array("chunk", path, h) =>
          ChunkCatalog.Plan[Any](Nil,
            Seq(ChunkMeta(path, h.toLong * hourNs, h.toLong * hourNs + hourNs - 1, 1, 1)),
            st => st, ())
        case Array("defer", path) =>
          ChunkCatalog.Plan[Any](Nil, Nil,
            st => st.copy(pendingDeletes = st.pendingDeletes :+ (path -> 3600000L)), ())
        case _ => throw new IllegalArgumentException(s"unknown mutation: $m")
      }
      ChunkCatalog.committerFor(cat.root).run(cat, _ => { evals += 1; plan })
    }
    println(s"evals $evals")
  }
}
