package graft.tools

import graft.SparkEntry

/** Interleaved same-JVM A/B for one of Spark's own boolean session
  * confs, e.g. `spark.sql.adaptive.coalescePartitions.enabled`
  * (round-16 perf protocol): the container's wall-clock drift is ±20%
  * ACROSS JVMs (NoiseProbe, see git rev e766bb7; the r14 sweep
  * adjudication), far above the effects being measured, so variant
  * comparisons must alternate INSIDE one session. For each query,
  * runs `reps` alternating (conf=true, conf=false) pairs and reports
  * each variant's min — the Bench statistic — plus the delta.
  *
  * graft's own code paths are not conf-gated: a code change is A/B'd
  * parent-vs-change with `perfbench` (`python3 perfbench/run.py`) or
  * against a git worktree of the parent revision.
  *
  * Usage: runMain graft.tools.AbProbe <confKey> q188_bootstrap_ci ...
  * (SPARK_GRAFT_SF_DIR selects the scale dir, default sf0.1;
  * SPARK_GRAFT_AB_REPS the pair count, default 3; SPARK_GRAFT_CPUS the
  * session width, see [[graft.LocalSession]].)
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AbProbe <confKey> <query> [query...]")
    val confKey = args.head
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "3").toInt
    val spark = graft.LocalSession()
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    for (name <- names) {
      // a failed rep returns NaN — folding a fail-fast crash timing
      // into the min would let a broken variant print as a win
      // (ADVICE r16)
      def once(v: Boolean): Double = {
        spark.conf.set(confKey, v.toString)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[ab] $name ($confKey=$v) failed: ${e.getMessage}")
          Double.NaN
        }
      }
      // one untimed warm-up per variant absorbs codegen/JIT
      once(true); once(false)
      val (ons, offs) = (1 to reps).map(_ => (once(true), once(false))).unzip
      def minOk(xs: Seq[Double]): Option[Double] = {
        val ok = xs.filterNot(_.isNaN)
        if (ok.isEmpty) None else Some(ok.min)
      }
      def fmt(x: Double): String = if (x.isNaN) "FAIL" else f"$x%.2f"
      (minOk(ons), minOk(offs)) match {
        case (Some(on), Some(off)) =>
          val flag = if (ons.exists(_.isNaN) || offs.exists(_.isNaN))
            " [SOME REPS FAILED]" else ""
          println(f"[ab] $name $confKey on=$on%.2f off=$off%.2f " +
            f"delta=${on - off}%+.2f s " +
            s"(on ${ons.map(fmt).mkString("/")} | " +
            s"off ${offs.map(fmt).mkString("/")})$flag")
        case (onOpt, offOpt) =>
          println(s"[ab] $name $confKey FAILED " +
            s"(on=${onOpt.fold("FAIL")(x => f"$x%.2f")} " +
            s"off=${offOpt.fold("FAIL")(x => f"$x%.2f")}; " +
            s"on ${ons.map(fmt).mkString("/")} | " +
            s"off ${offs.map(fmt).mkString("/")})")
      }
    }
    spark.stop()
  }
}
