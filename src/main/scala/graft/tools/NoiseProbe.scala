package graft.tools

import org.apache.spark.sql.SparkSession

/** Wall-vs-tasktime noise profile for the round-7 micro-uptick
  * queries (VERDICT r7 "What's wrong #3": q50 0.66→0.91 s, q53
  * 0.405→0.499 s, q58 0.365→0.504 s, q36 0.62→0.69 s — all map-only
  * or tiny, all inside their historical bands). Methodology is the
  * retired q75 probe's (see git rev e579ea9): a 50 ms-tick steal detector attributes host
  * starvation, and a job listener splits each query's wall time into
  * summed executor task time vs scheduler/driver time. If the
  * upticks were a code regression, task time would grow round-over-
  * round and dominate wall; if they are environment noise, wall
  * inflates while task time stays flat and/or the stall counter
  * accumulates. Five timed executions per query (not min-of-3) so
  * the VARIANCE is visible, one warm-up pass first.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.NoiseProbe [names...]
  */
object NoiseProbe {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q50_repetition_signals", "q53_cherwell_extract",
        "q58_convert_geography", "q36_having_filter", "q69_cde_latest_gis")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stallMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val ticker = new Thread(() => {
      var prev = System.nanoTime()
      while (true) {
        Thread.sleep(50)
        val now = System.nanoTime()
        val excess = (now - prev) / 1000000L - 50L
        if (excess > 20) stallMs.addAndGet(excess)
        prev = now
      }
    })
    ticker.setDaemon(true); ticker.start()

    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
    })

    for (name <- names; fn = graft.SparkEntry.queries(name)) {
      fn(spark, sfDir).write.mode("overwrite").format("noop").save() // warm
      val rows = (1 to 5).map { i =>
        val s0 = stallMs.get(); val k0 = taskMs.get()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val task = (taskMs.get() - k0) / 1e3
        val stall = (stallMs.get() - s0) / 1e3
        println(f"[noise] $name run$i wall $wall%.3f s task $task%.3f s stall $stall%.3f s")
        (wall, task, stall)
      }
      val ws = rows.map(_._1)
      println(f"[noise] $name SUMMARY wall min ${ws.min}%.3f max ${ws.max}%.3f " +
        f"spread ${ws.max - ws.min}%.3f task min ${rows.map(_._2).min}%.3f " +
        f"max ${rows.map(_._2).max}%.3f")
    }
    spark.stop()
  }
}
