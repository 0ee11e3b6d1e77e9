package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One benchmark run: set up, measure one workload for a number of
  * seconds (or trace it layer by layer), check the outputs, and print
  * a `perfbench-result` line with every metric it measured.
  *
  * {{{
  * perfbench.Main --workload qalert_hourly --seed 1 --seconds 10 --trace 0 \
  *   --cpus 4 --work <dir> [--pins <name>=<digest>,...] [--revision <rev>]
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, work: File, pins: Map[String, String], revision: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      new File(need("work")), pins(m.getOrElse("pins", "")), m.getOrElse("revision", "unknown"))
  }

  /** `name=digest,name=digest` → pinned digest per workload. */
  def pins(s: String): Map[String, String] =
    s.split(",").filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap

  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after forced full collections, in MiB. Spark's
    * ContextCleaner frees unreferenced cached blocks only after a GC has
    * cleared their weak references, on its own thread: collect, give it
    * time, collect again.
    */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val (w, gen) = Workload.timed(Workload(a.workload, a.seed))
    val outs = new File(a.work, "out")
    val problems = mutable.ArrayBuffer.empty[String]
    val digests = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
    var attempted, failed = 0
    val spark = session(a.cpus, a.work)
    val up = System.currentTimeMillis()

    // a full pass's digest must equal the pinned one and every other
    // full pass's of the same workload; warm-up passes are checked by
    // the workload alone
    def runPass(wl: Workload, tag: String, rec: Option[Recorder], warmUp: Boolean = false): Pass = {
      val dir = new File(outs, s"${wl.name}-$tag")
      val p = try { if (warmUp) wl.warmUp(spark, dir) else wl.pass(spark, dir, rec, wl.ops) }
              finally deleteTree(dir)
      val n = if (warmUp) wl.warmOps else wl.ops
      val full = !warmUp && p.failed.isEmpty
      val pin = a.pins.get(wl.name)
      val wrongDigest = full && pin.exists(_ != p.digest)
      if (wrongDigest) problems += s"${wl.name} $tag: output digest ${p.digest} != pinned ${pin.get}"
      problems ++= p.problems.map(x => s"${wl.name} $tag: $x")
      if (full) digests.getOrElseUpdate(wl.name, mutable.LinkedHashSet.empty) += p.digest
      attempted += n
      failed += (if (wrongDigest) n else p.failed.size)
      if (wrongDigest) p.copy(ops = Vector.empty, failed = (0 until n).toSet) else p
    }

    // one untraced and one traced pass; returns the traced pass's layer
    // metrics and the tracing overhead
    def trace(wl: Workload): (Map[String, Double], Double) = {
      val plain = runPass(wl, "untraced", None)
      val rec = new Recorder(spark)
      rec.start()
      val traced = runPass(wl, "traced", Some(rec))
      val layer = rec.finish()
      val overhead = traced.ops.map(_.wallS).sum - plain.ops.map(_.wallS).sum
      if (plain.failed.isEmpty && traced.failed.isEmpty && plain.digest != traced.digest)
        problems += s"${wl.name}: traced output digest ${traced.digest} != untraced ${plain.digest}"
      (layer, overhead)
    }

    // set-up: JVM start → SparkSession up → warm-up pass done; generating
    // and writing the inputs is the harness's work and is excluded
    val prep = Workload.timed(w.prepare(spark, new File(a.work, "inputs")))._2.wallS
    val warm = Workload.timed(runPass(w, "setup", None, warmUp = true))._2.wallS
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - prep - gen.wallS
    println(f"perfbench: setup $setupS%.2f s: session up ${(up - jvmStartMs) / 1e3}%.2f s, " +
      f"warm-up pass $warm%.2f s (inputs $prep%.2f s excluded)")
    val heap0 = liveHeapMb()

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var declared = Seq.empty[String]
    if (!a.trace) {
      // closed loop: whole passes back to back, one client, while the
      // next pass, as long as the mean one so far, ends within the time
      val passes = mutable.ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      def fits = { val e = (System.nanoTime() - t0) / 1e9; e + e / passes.size <= a.seconds }
      while (passes.isEmpty || fits) {
        liveHeapMb() // each pass starts from a collected heap
        passes += runPass(w, s"timed-${passes.size}", None)
      }
      val heap1 = liveHeapMb()
      val whole = passes.filter(_.failed.isEmpty)
      val lat = passes.flatMap(_.ops.map(_.wallS))
      if (whole.nonEmpty && lat.nonEmpty) {
        metrics += "setup_s" -> setupS
        metrics += "wall_s" -> Stats.median(whole.map(_.ops.map(_.wallS).sum).toSeq)
        metrics += "batch_p50_s" -> Stats.median(lat.toSeq)
        metrics += "cpu_s" -> Stats.median(whole.map(_.ops.map(_.cpuS).sum).toSeq)
        metrics += "heap_live_mb" -> heap1
        metrics += "heap_retained_mb" -> (heap1 - heap0)
      }
      println(f"perfbench: ${passes.size} timed passes, ${lat.size} timed ops")
      println(s"perfbench: op latencies ${lat.map(x => f"$x%.3f").mkString(" ")} s")
      if (lat.nonEmpty) println(f"perfbench: batch_p50_s ${Stats.median(lat.toSeq)}%.4f s over n=${lat.size} ops")
      // a higher percentile only once ten samples lie beyond it
      if (lat.size >= 100) {
        val p90 = Stats.percentile(lat.toSeq, 90)
        println(f"perfbench: batch_p90_s ${p90.value}%.4f s over n=${p90.n} ops")
      }
      println(f"perfbench: heap_live_mb $heap1%.1f, heap_retained_mb ${heap1 - heap0}%.1f")
    } else {
      val (layer, overhead) = trace(w)
      val heap1 = liveHeapMb()
      println(f"perfbench: tracing overhead $overhead%.3f s (traced wall_s minus untraced wall_s)")
      metrics ++= layer
      metrics += "trace.overhead_s" -> overhead
      metrics += "heap_retained_mb" -> (heap1 - heap0)
      declared = w.layers ++ Tracer.Totals ++ Seq("trace.overhead_s", "heap_retained_mb")
      // the companion, traced like `w` but without a warm-up of its own
      // (its untraced pass is its first): only its per-call metrics and
      // values are kept, the totals and the overhead are `w`'s
      Workload.companions.get(w.name).map(Workload(_, a.seed)).foreach { c =>
        c.prepare(spark, new File(a.work, s"inputs-${c.name}"))
        val (cl, _) = trace(c)
        metrics ++= cl -- Tracer.Totals
        declared ++= c.layers
      }
      metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"perfbench: layer $k%-44s $v%.4f") }
    }
    digests.foreach { case (n, ds) =>
      if (ds.size > 1) problems += s"$n: passes disagree on the output digest: ${ds.mkString(", ")}"
    }
    spark.stop()

    val correct = problems.isEmpty && failed == 0
    println(f"perfbench: failed_ratio ${failed.toDouble / math.max(1, attempted)}%.4f ($failed of $attempted ops)")
    val stamp = ListMap[String, String](
      "workload" -> q(w.name), "seed" -> a.seed.toString, "cpus" -> a.cpus.toString,
      "revision" -> q(a.revision), "spark" -> q(org.apache.spark.SPARK_VERSION),
      "jvm" -> q(System.getProperty("java.vm.version")),
      "jvm_flags" -> q(ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
        .map(_.toString).filter(f => f.startsWith("-X") || f.contains("GC")).mkString(" ")),
      "trace" -> (if (a.trace) "1" else "0"),
      "shape" -> w.shape.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}"),
      "input_shares" -> w.shares.map { case (k, v) => f"${q(k)}: $v%.4f" }.mkString("{", ", ", "}"),
      "digests" -> digests.map { case (n, ds) => s"${q(n)}: ${q(ds.head)}" }.mkString("{", ", ", "}"))
    println("perfbench-stamp " + stamp.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}"))
    problems.foreach(p => println(s"perfbench: FAILED CHECK $p"))
    println("perfbench-result " + s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": """ +
      metrics.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString("{", ", ", "}") +
      s""", "declared": ${declared.map(q).mkString("[", ", ", "]")}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
