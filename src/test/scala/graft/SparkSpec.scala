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
