package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one lazy SparkSession per suite class, UTC, small
  * shuffle fan-out for local test data.
  */
trait SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Suite-tracked temp directory, removed in afterAll — the bare
    * `Files.createTempDirectory` call sites accreted hundreds of
    * state dirs under /tmp across test runs (round-15 hygiene).
    * Deletion is [[TempTrees.deleteQuietly]]: best-effort, double
    * deletion by a test's own try/finally is harmless.
    */
  private val tmpRoots =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  def tempDir(prefix: String): java.nio.file.Path = synchronized {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpRoots += p
    p
  }
  /** The ids of the RDDs persisted now. */
  def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The ids of the RDDs persisted now that were not in `before`,
    * less the blocks of the lineage cuts in `handedBack` (the frames a
    * call returns, which its caller owns).
    */
  def persistedSince(before: scala.collection.Set[Int],
                     handedBack: org.apache.spark.sql.Dataset[_]*): Set[Int] = {
    val owned = handedBack.flatMap(_.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }).toSet
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before -- owned
  }

  /** Runs `body` and returns its value with the Spark jobs it started,
    * each as the names of its stages. Jobs are tagged through a local
    * property (inherited by the threads a query spawns), so jobs other
    * threads start are not counted; the listener bus is drained before
    * and after, so no earlier event leaks in and no late one is lost.
    */
  def jobsDuring[T](body: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val key = "graft.spec.call"
    val tag = s"call-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.add(e.stageInfos.map(_.name))
    }
    org.apache.spark.SpecSparkInternals.drainListenerBus(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty(key, tag)
    val out = try body finally {
      sc.setLocalProperty(key, null)
      org.apache.spark.SpecSparkInternals.drainListenerBus(sc)
      sc.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    (out, jobs.asScala.toSeq)
  }

  /** Runs `body` with adaptive execution off. AQE materializes query
    * stages concurrently, and a stage that reads a cache not yet built
    * may start a job of its own, so the same call can start a few more
    * or fewer jobs from run to run; without AQE a call's job count is a
    * function of its plan, fit to pin.
    */
  def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "false")
    try body finally spark.conf.unset(key)
  }

  /** Runs `body` with reliable cuts whose writes fail: the checkpoint
    * directory is swapped for a plain file, so each cut throws after its
    * job has read every cache the operator holds — the exception path a
    * release handle exists for.
    */
  def withFailingCuts[T](body: => T): T = {
    val sc = spark.sparkContext
    val flag = graft.state.Checkpoints.ReliableFlag
    org.apache.spark.SpecSparkInternals.withCheckpointDir(sc, tempDir("failing_cuts").toString) {
      val dir = new java.io.File(new java.net.URI(sc.getCheckpointDir.get))
      assert(dir.delete() && dir.createNewFile(), s"cannot swap $dir for a file")
      spark.conf.set(flag, "true")
      try body finally spark.conf.unset(flag)
    }
  }

  override protected def afterAll(): Unit = {
    synchronized {
      tmpRoots.foreach(TempTrees.deleteQuietly)
      tmpRoots.clear()
    }
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // match the Bench/Verify mains: AQE may right-size cached plan
      // output (plan-shape specs must hold under the production conf)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
