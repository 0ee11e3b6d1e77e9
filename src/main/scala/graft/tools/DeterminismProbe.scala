package graft.tools

import graft.SparkEntry

/** Whole-surface determinism audit: run EVERY SparkEntry query twice
  * at the given scale factor and compare results as row multisets. A
  * mismatch is the q75-class bug (nondeterministic plan output —
  * unstable ids, uncommitted sampling, order-dependent floats leaking
  * into keys); an exception is an edge-case crash the oracle gate
  * never sees at that scale. Run at sf0.001 to also smoke-test the
  * tiny-corpus edge (empty LSH bands, single-day calendars, …).
  *
  * Usage: runMain graft.tools.DeterminismProbe [sfDir]
  */
object DeterminismProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession(logLevel = "ERROR")

    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        def snap(): Map[String, Int] = fn(spark, sfDir).collect()
          .map(_.toString).groupBy(identity).view.mapValues(_.length).toMap
        val a = snap(); val b = snap()
        if (a == b) println(s"[det] OK   $name (${a.values.sum} rows)")
        else {
          bad += 1
          val onlyA = (a.keySet -- b.keySet).take(3)
          val onlyB = (b.keySet -- a.keySet).take(3)
          println(s"[det] DIFF $name: run1=${a.values.sum} run2=${b.values.sum} " +
            s"onlyFirst=$onlyA onlySecond=$onlyB")
        }
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"[det] FAIL $name: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    println(s"[det] ${if (bad == 0) "ALL DETERMINISTIC" else s"$bad problems"}")
    spark.stop()
  }
}
