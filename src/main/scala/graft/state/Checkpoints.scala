package graft.state

import org.apache.spark.sql.{Dataset, SparkSession}

/** Engine-wide choice of lineage-cut materialization (VERDICT r14
  * task #6, closing ADVICE r13 #2's remedy).
  *
  * Every multi-consumer intermediate in the engine is eagerly
  * materialized with its lineage severed — otherwise concurrent
  * consumer stages recompute the full upstream chain (the measured
  * q239 bimodality), and iterative algorithms (PageRank, LPA) double
  * their LOGICAL plan every round until driver plan-stringification
  * alone OOMs. Every cut is eager, whichever mechanism implements it;
  * the flag below picks one of two:
  *
  *  - `localCheckpoint(eager = true)` (the default): blocks live in
  *    executor storage (MEMORY_AND_DISK), zero external I/O — right
  *    for the measured single-JVM local[32] target, where "executor
  *    loss" and "driver loss" are the same event. NOT fault-tolerant:
  *    lineage is TRUNCATED, so on a multi-executor cluster a lost
  *    executor makes the checkpointed partitions unrecoverable (the
  *    job fails instead of recomputing).
  *  - reliable `checkpoint(eager = true)` (opt-in): partitions are
  *    written to the SparkContext checkpoint directory — on a real
  *    cluster that is HDFS/object storage, so executor loss recovers
  *    by re-reading. Costs a write+read round-trip per cut.
  *
  * The flag is ONE engine-level spark conf, readable per session (a
  * runtime conf, so it can be flipped without rebuilding sessions):
  *
  * {{{
  * spark.conf.set(Checkpoints.ReliableFlag, "true")
  * spark.sparkContext.setCheckpointDir("hdfs://.../graft-ckpt")
  * }}}
  *
  * Default is `false` — byte-identical behavior to the pre-knob
  * engine. With the flag on, a missing checkpoint dir fails fast with
  * an actionable message rather than deep inside the first query.
  *
  * '''Checkpoint-file cleanup (flag-on recipe).''' Reliable
  * checkpoints persist their partitions in the checkpoint dir and
  * Spark deletes them only when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (best-
  * effort, on RDD GC) — without it a long-lived session accumulates
  * unbounded checkpoint data across the engine's ~100 cut sites plus
  * the per-round cuts in the iterative loops. Set that conf whenever
  * [[ReliableFlag]] is enabled, and point the checkpoint dir at
  * storage with a lifecycle/TTL policy as a backstop:
  *
  * {{{
  * spark.conf.set("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
  * }}}
  */
object Checkpoints {

  /** `true` → every engine lineage cut uses a RELIABLE checkpoint
    * into `spark.sparkContext.getCheckpointDir` (must be set, and on
    * a real cluster must point at storage that survives executor
    * loss); `false`/unset → eager `localCheckpoint` (default).
    */
  val ReliableFlag = "spark.graft.reliableCheckpoints"

  def isReliable(spark: SparkSession): Boolean =
    spark.conf.get(ReliableFlag, "false").toBoolean

  /** Eagerly materialize `ds` and sever its lineage via the
    * session-configured mechanism. Every engine cut goes through here,
    * the iterative loops' per-round cuts included: the cut is always
    * eager (Spark 4's `localCheckpoint()` is already
    * `checkpoint(eager = true, reliableCheckpoint = false)`), so a
    * caller may release the cut's parent right after this returns, and
    * only the mechanism depends on [[ReliableFlag]].
    */
  def stable[T](ds: Dataset[T]): Dataset[T] =
    if (!isReliable(ds.sparkSession)) ds.localCheckpoint(eager = true)
    else { requireDir(ds); ds.checkpoint(eager = true) }

  /** Releases the blocks of a cut made by [[stable]] now rather than
    * when the ContextCleaner gets to it (ADVICE r13: waiting on the
    * weak-ref cleaner lets MEMORY_AND_DISK blocks pile up in GC-quiet
    * long-running programs, including on exception paths). A no-op on
    * a frame that is not a cut. The blocks belong to the plan's single
    * [[org.apache.spark.sql.execution.LogicalRDD]] leaf; `ds.rdd` would
    * wrap it in a fresh, unpersisted deserializer RDD, so unpersisting
    * THAT is a no-op.
    */
  def release[T](ds: Dataset[T]): Unit =
    ds.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Fail fast: reliable mode without a checkpoint dir dies with an
    * actionable message, not deep inside the first job.
    */
  private def requireDir[T](ds: Dataset[T]): Unit =
    require(ds.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
      s"$ReliableFlag=true requires spark.sparkContext" +
        ".setCheckpointDir(<fault-tolerant storage>) — reliable " +
        "checkpoints write their partitions there")
}
