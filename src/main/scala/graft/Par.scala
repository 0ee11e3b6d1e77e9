package graft

/** Build independent query branches in concurrent driver threads
  * (optimization guide §2.6 "overlap independent jobs": actions are
  * only sequential because driver code calls them sequentially).
  *
  * Several operators run EAGER actions at frame-construction time —
  * model-training counts, `Checkpoints.stable` materializations — so a
  * query composed of independent branches (CV folds, two scorer
  * models) pays their actions back to back on an otherwise idle
  * cluster: the round-16 stage profiles show q261's three fold trains
  * and q327's two model trains as strictly serial 0.6–1.9 s stages.
  * Constructing the branches in parallel threads lets the scheduler
  * interleave their jobs; each branch's PLAN (and therefore every
  * result) is byte-identical to the serial construction — only the
  * wall-clock overlap changes.
  *
  * FIFO scheduling back-fills exactly as the guide describes; the
  * thread count is the branch count (2–5 at the call sites), far below
  * any pool concern.
  */
object Par {
  def build[A](thunks: (() => A)*): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    // small-branch-count contract (ADVICE r16): call sites pass 2-5
    // independent branches; cap the pool so a future large thunk list
    // cannot spawn that many driver threads each running eager actions
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, 8),
      new java.util.concurrent.ThreadFactory {
        // daemon threads: a hung branch must not keep the JVM alive
        // after the driver's main thread exits
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-par-${System.identityHashCode(r)}")
          t.setDaemon(true)
          t
        }
      })
    var failed = false
    try {
      val futs = thunks.map(t => pool.submit(
        new java.util.concurrent.Callable[A] { def call(): A = t() }))
      // unwrap ExecutionException so the parallel path surfaces the
      // same exception type/message as the serial path (ADVICE r16)
      futs.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            failed = true
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally {
      // on failure, cancel still-running sibling branches instead of
      // letting their Spark jobs run on while the caller unwinds
      if (failed) pool.shutdownNow() else pool.shutdown()
    }
  }
}
