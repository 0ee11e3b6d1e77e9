package org.apache.spark

/** Test bridges to SparkContext state that is package-private. */
object SpecSparkInternals {

  /** Blocks until every queued listener event has been delivered, so a
    * listener's counts are complete when a spec reads them.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs `body` with `dir` as the checkpoint directory, then restores
    * the previous setting — none included, which the public API cannot
    * do — so other suites on the shared context see no change.
    */
  def withCheckpointDir[A](sc: SparkContext, dir: String)(body: => A): A = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
