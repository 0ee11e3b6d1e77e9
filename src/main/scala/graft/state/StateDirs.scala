package graft.state

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The crash-safe on-disk protocol every rotated state file or
  * directory in graft uses: the reference writes its durable state
  * only after a run succeeds, so a failed run leaves the previous state
  * in place (`successful_run_log/log.json`, the `incoming_*` →
  * `all_*` merges, qalert_airflow.py:113-217). Callers pass a path and,
  * to replace, a function that writes the new state to the path it is
  * given.
  *
  *  - [[replace]] writes `<path>.next`, deletes a stale `<path>.old`,
  *    renames the current copy to `.old`, then renames `.next` to the
  *    current path. Hadoop signals a failed rename or delete by
  *    RETURNING false (and renames INTO an existing destination dir
  *    rather than replacing it), so every step is checked and a failure
  *    throws an `IOException` naming the path: the caller's run fails
  *    instead of committing over a half-rotated state.
  *  - [[current]] reads the current copy, else `.old`, else nothing. A
  *    crash between the two renames leaves no current copy but an
  *    intact `.old`, which is exactly the pre-replace state; a retry
  *    that reads through [[current]] therefore works against it rather
  *    than an empty base, and no history is lost. A `.next` left by a
  *    crash is never read, and the next replace clears it before
  *    writing, so it is never promoted.
  *
  * Everything goes through the Hadoop `FileSystem` of the path, so the
  * same code runs against HDFS/S3A, not only the local FS. (On stores
  * without atomic rename, S3, the swap is last-writer-wins rather than
  * atomic; the `.old` copy still makes the previous state
  * recoverable.)
  */
object StateDirs {

  /** The Hadoop `FileSystem` of `path` under the running SparkContext's
    * Hadoop conf (a default conf outside any session).
    */
  private[graft] def fsFor(path: String): FileSystem = {
    import org.apache.spark.sql.SparkSession
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    new HPath(path).getFileSystem(conf)
  }

  private def present(fs: FileSystem, p: HPath): Boolean =
    fs.exists(p) && (fs.getFileStatus(p).isFile || fs.listStatus(p).nonEmpty)

  /** `path` exists and is a file or a non-empty directory — an empty
    * directory (a failed or not-yet-started write) holds nothing to
    * read.
    */
  def present(path: String): Boolean = present(fsFor(path), new HPath(path))

  /** The readable copy of the state at `path`: `path` itself, else the
    * `.old` copy a crashed [[replace]] left, else `None` (no state yet).
    */
  def current(path: String): Option[String] = {
    val fs = fsFor(path)
    Seq(path, path + ".old").find(p => present(fs, new HPath(p)))
  }

  /** Replace the state at `path` with what `write` writes to the path
    * it is given (`<path>.next`, cleared first), rotating the current
    * copy to `.old`.
    */
  def replace(path: String)(write: String => Unit): Unit = {
    val fs   = fsFor(path)
    val cur  = new HPath(path)
    val old  = new HPath(path + ".old")
    val next = new HPath(path + ".next")
    def check(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(s"$what failed")
    if (fs.exists(next)) check(fs.delete(next, true), s"delete $next")
    write(next.toString)
    if (fs.exists(cur)) {
      if (fs.exists(old)) check(fs.delete(old, true), s"delete $old")
      check(fs.rename(cur, old), s"rename $cur -> $old")
    }
    check(fs.rename(next, cur), s"rename $next -> $cur")
  }
}
