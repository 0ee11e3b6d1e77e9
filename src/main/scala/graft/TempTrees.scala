package graft

/** Best-effort recursive deletion of a temp directory tree (the
  * q288cc/q307/q314/q339 temp-state discipline: results are eagerly
  * checkpointed, so the on-disk state can be removed before the query
  * returns and Bench/Verify invocations leak nothing under /tmp).
  */
object TempTrees {

  /** Runs `body` on a fresh temp directory whose name starts with
    * `prefix`, then deletes the tree in a `finally`, so a body that
    * throws leaves nothing behind either. `body` must not return
    * anything lazy over the tree: cut its result first.
    */
  def withTempDir[T](prefix: String)(body: java.nio.file.Path => T): T = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try body(root) finally deleteQuietly(root)
  }

  /** Delete `root` and everything under it, deepest-first. Never
    * throws: cleanup is best-effort by contract. The `Files.walk`
    * stream is closed via `try/finally` (it holds directory handles —
    * an unclosed walk leaks an fd per invocation), and
    * `UncheckedIOException` is swallowed alongside `IOException`
    * (the walk iterator wraps read errors in the unchecked form, which
    * would otherwise escape the "best-effort" intent). (ADVICE r14)
    */
  def deleteQuietly(root: java.nio.file.Path): Unit =
    try {
      val stream = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally stream.close()
    } catch {
      case _: java.io.IOException          => ()
      case _: java.io.UncheckedIOException => ()
    }
}
