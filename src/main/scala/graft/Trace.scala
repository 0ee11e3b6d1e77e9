package graft

import org.apache.spark.SparkContext

/** Names the Spark jobs a block runs after the graft operator that
  * runs them. Without it, AQE query stages read
  * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768`.
  *
  * The call-site and job-description local properties are inheritable
  * thread-locals, and AQE copies them into the threads that submit its
  * query stages, so every stage of the block carries the name. The
  * caller's values are restored afterwards, unset ones included.
  */
object Trace {

  private val keys = Seq("callSite.short", "callSite.long", "spark.job.description")

  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    val prev = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, name))
    try body
    finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
