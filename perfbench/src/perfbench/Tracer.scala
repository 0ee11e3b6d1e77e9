package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Listener for the traced run: job intervals plus task totals. A job
  * belongs to the call whose tag ([[Tracer.CallKey]], a Spark local
  * property, inherited by the threads a call starts) it was submitted
  * under; untagged jobs belong to no call.
  */
final class Tracer extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, (Int, Long)]()
  private val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  val tasks = new AtomicLong
  val executorCpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.CallKey)))
      .foreach(call => starts.put(e.jobId, (call.toInt, e.time)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (call, s) => jobs.add((call, s, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.incrementAndGet()
    if (m != null) {
      executorCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** (call index, start, end) of every finished tagged job. */
  def jobIntervals: Seq[(Int, Long, Long)] = jobs.asScala.toSeq

  def reset(): Unit = {
    jobs.clear(); tasks.set(0); executorCpuNs.set(0); gcMs.set(0); shuffleBytes.set(0)
  }
}

object Tracer {
  val CallKey = "perfbench.call"
  /** The workload-wide totals [[Recorder.finish]] reports. */
  val Totals: Seq[String] = Seq("tasks", "executor_cpu_s", "gc_s", "shuffle_mb")
}

/** Records the interval of each traced call and, once the listener bus
  * has drained, sums wall, job count and driver gap per call name.
  */
final class Recorder(spark: SparkSession) {
  val tracer = new Tracer
  private val calls = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val values = mutable.LinkedHashMap.empty[String, Double]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(tracer)
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    tracer.reset()
  }

  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.CallKey, calls.size.toString)
    val t0 = System.currentTimeMillis()
    try body finally {
      calls += ((name, t0, System.currentTimeMillis()))
      sc.setLocalProperty(Tracer.CallKey, null)
    }
  }

  /** A per-layer value that is not a call timing (ratios, sizes). */
  def set(name: String, v: Double): Unit = values(name) = v

  /** Per-call metrics (`<call>.wall_s`, `.jobs`, `.driver_gap_s`), the
    * workload's task totals, and every value set with [[set]].
    */
  def finish(): Map[String, Double] = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(tracer)
    val jobs = tracer.jobIntervals
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    calls.zipWithIndex.foreach { case ((name, t0, t1), i) =>
      val mine = jobs.collect { case (`i`, s, e) => (s, e) }
      add(s"$name.wall_s", (t1 - t0) / 1e3)
      add(s"$name.jobs", mine.size.toDouble)
      add(s"$name.driver_gap_s", Stats.driverGap(t0, t1, mine) / 1e3)
    }
    out("tasks") = tracer.tasks.get.toDouble
    out("executor_cpu_s") = tracer.executorCpuNs.get / 1e9
    out("gc_s") = tracer.gcMs.get / 1e3
    out("shuffle_mb") = tracer.shuffleBytes.get / 1048576.0
    out ++= values
    out.toMap
  }
}
