package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** Runs a test main in a child JVM: this JVM's java binary and class path, a
  * 128 MB heap. For a test that needs a second PROCESS — a writer that no
  * in-JVM coordination (locks, the catalog's group committer) can see, or one
  * that is killed mid-operation. At most [[MaxChildren]] children run at
  * once; a child's stdout and stderr go to one temp file, read back when it
  * exits.
  */
object ChildJvm {

  val MaxChildren = 8

  private val slots = new Semaphore(MaxChildren)

  private val javaBin: String = ProcessHandle.current().info().command()
    .orElse(Paths.get(System.getProperty("java.home"), "bin", "java").toString)

  final class Child private[ChildJvm] (mainClass: String, process: Process,
                                       log: Path) {
    private val released = new AtomicBoolean(false)

    /** Everything the child has written so far (stdout and stderr). */
    def output: String = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)

    /** Waits for the child to exit 0 and returns its output. On a timeout or
      * any other exit code, destroys it and fails with its output.
      */
    def await(timeoutSec: Long): String =
      try {
        if (!process.waitFor(timeoutSec, TimeUnit.SECONDS)) {
          destroy()
          throw new AssertionError(
            s"$mainClass did not exit within $timeoutSec s; output:\n$output")
        }
        if (process.exitValue() != 0)
          throw new AssertionError(
            s"$mainClass exited ${process.exitValue()}; output:\n$output")
        output
      } finally close()

    /** Waits for the child to create `f` (a ready signal); fails with its
      * output if it exits first or `timeoutSec` passes.
      */
    def awaitFile(f: Path, timeoutSec: Long): Unit = {
      val deadline = System.nanoTime() + timeoutSec * 1000000000L
      while (!Files.exists(f)) {
        if (!process.isAlive && !Files.exists(f))
          throw new AssertionError(s"$mainClass exited before creating $f; output:\n$output")
        if (System.nanoTime() > deadline)
          throw new AssertionError(s"$mainClass did not create $f in $timeoutSec s; output:\n$output")
        Thread.sleep(5)
      }
    }

    /** Kills the child if it still runs and frees its slot; idempotent. */
    def close(): Unit = {
      if (process.isAlive) destroy()
      if (released.compareAndSet(false, true)) {
        slots.release()
        Files.deleteIfExists(log)
      }
    }

    private def destroy(): Unit = {
      process.destroyForcibly()
      process.waitFor(10, TimeUnit.SECONDS)
    }
  }

  /** Starts `mainClass` with `args` in a child JVM; blocks while
    * [[MaxChildren]] children already run, and fails after 60 s of that.
    */
  def start(mainClass: String, args: String*): Child = {
    if (!slots.tryAcquire(60, TimeUnit.SECONDS))
      throw new AssertionError(s"no child JVM slot for $mainClass: $MaxChildren already run")
    try {
      val log = Files.createTempFile("graft_child_", ".log")
      val cmd = Seq(javaBin, "-Xmx128m", "-XX:+UseSerialGC",
        "-cp", System.getProperty("java.class.path"), mainClass) ++ args
      val pb = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true)
        .redirectOutput(log.toFile)
      new Child(mainClass, pb.start(), log)
    } catch { case e: Throwable => slots.release(); throw e }
  }
}
