package perfbench

import scala.collection.mutable

/** Tests of the harness's own helpers and generators.
  *
  * {{{ python3 perfbench/run.py --selftest }}}
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    try { if (cond) passed += 1 else failures += name }
    catch { case e: Throwable => failures += s"$name (threw $e)" }

  def main(args: Array[String]): Unit = {
    // percentile with its sample count
    check("p50 of 5 samples")(Stats.percentile(Seq(5.0, 1, 3, 2, 4), 50) == Stats.Pct(3.0, 5))
    check("p90 of 1..10 is 9")(Stats.percentile((1 to 10).map(_.toDouble), 90) == Stats.Pct(9.0, 10))
    check("p100 is the max")(Stats.percentile(Seq(2.0, 7, 1), 100) == Stats.Pct(7.0, 3))
    check("p1 of one sample")(Stats.percentile(Seq(4.0), 1) == Stats.Pct(4.0, 1))
    check("median of even sample averages")(Stats.median(Seq(4.0, 1, 3, 2)) == 2.5)
    check("empty percentile rejected")(
      scala.util.Try(Stats.percentile(Seq.empty, 50)).isFailure)

    // driver gap as the union of intervals
    check("union: disjoint")(Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15)
    check("union: overlapping")(Stats.unionLength(Seq((10L, 30L), (20L, 40L))) == 30)
    check("union: nested and unordered")(
      Stats.unionLength(Seq((50L, 60L), (0L, 100L), (20L, 30L))) == 100)
    check("union: touching")(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    check("union: empty and inverted")(Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0)
    check("driver gap clips jobs to the call")(
      Stats.driverGap(0, 100, Seq((10L, 30L), (20L, 40L), (50L, 60L), (90L, 120L))) == 50)
    check("driver gap without jobs is the wall")(Stats.driverGap(5, 17, Seq.empty) == 12)

    // digest order-independence
    val rows = (1 to 50).map(i => s"row $i\u0001${i * 7}")
    val d = Stats.digest(rows)
    check("digest ignores order")(Stats.digest(scala.util.Random.shuffle(rows)) == d)
    check("digest sees a dropped row")(Stats.digest(rows.tail) != d)
    check("digest sees a duplicated row")(Stats.digest(rows :+ rows.head) != d)
    check("digest sees a changed row")(Stats.digest(rows.updated(3, "row 4\u000129")) != d)
    check("canonical doubles absorb last-bit noise")(Stats.canon(0.1 + 0.2) == Stats.canon(0.3))
    check("canonical doubles keep real differences")(Stats.canon(1.0001) != Stats.canon(1.0002))
    check("canonical arrays and nulls")(Stats.canon(Seq(1, null, 2.5)) == "[1,∅,2.5]")

    // generator determinism
    def same(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.equals(a, b)
    check("qalert: same seed, same bytes")(
      same(Gen.Qalert.generate(7, 3, 300).bytes, Gen.Qalert.generate(7, 3, 300).bytes))
    check("qalert: other seed, other bytes")(
      !same(Gen.Qalert.generate(7, 3, 300).bytes, Gen.Qalert.generate(8, 3, 300).bytes))
    check("corpus: same seed, same bytes")(same(Gen.corpus(7, 400).bytes, Gen.corpus(7, 400).bytes))
    check("corpus: other seed, other bytes")(!same(Gen.corpus(7, 400).bytes, Gen.corpus(8, 400).bytes))
    check("admission: same seed, same bytes")(
      same(Gen.admission(7, Seq((100, 50), (40, 20))).bytes, Gen.admission(7, Seq((100, 50), (40, 20))).bytes))
    check("admission: other seed, other bytes")(
      !same(Gen.admission(7, Seq((100, 50), (40, 20))).bytes, Gen.admission(8, Seq((100, 50), (40, 20))).bytes))
    check("consecutive seeds place their copies differently")((10 to 14).map { k =>
      val a = Gen.admission(k, Seq((100, 50), (40, 20)))
      (a.exactDocCopies, a.exactVecCopies)
    }.distinct.size == 5)
    check("star: same seed, same bytes")(
      same(Gen.star(7, 500, 50, 100, 100).bytes, Gen.star(7, 500, 50, 100, 100).bytes))

    // the generators inject what they claim
    val s = Gen.Qalert.generate(11, 4, 1000)
    check("qalert: ~15% re-arrivals")(math.abs(s.shares("re_arrival") - 0.1125) < 0.02)
    check("qalert: ~1% concatenated lines")(s.shares("concat_line") > 0.003 && s.shares("concat_line") < 0.02)
    check("qalert: one quarantined line per 200 records")(s.drops.forall(_.quarantined == 5))
    val want = s.expectedAfter(4)
    check("qalert: children point at parents")(want.children.keySet.subsetOf(want.parents))
    check("qalert: status map covers every valid record")(
      want.lastStatus.size == s.drops.flatMap(_.records).map(_.id).distinct.size)
    check("qalert: a prefix expects fewer tickets")(s.expectedAfter(1).lastStatus.size < want.lastStatus.size)
    check("qalert: all location kinds present")(
      Seq("in_city", "in_enclave", "outside_city", "no_coords").forall(s.shares(_) > 0))
    val adm = Gen.admission(11, Seq((200, 100), (100, 50), (100, 50)))
    check("admission: no exact copies in the first batch")(
      adm.exactDocCopies.head.isEmpty && adm.exactVecCopies.head.isEmpty)
    check("admission: later batches carry exact copies")(adm.exactDocCopies.tail.forall(_.nonEmpty))

    // job attribution by call tag, with calls back to back
    val work = new java.io.File(args.sliding(2).collectFirst { case Array("--work", w) => w }.getOrElse("."))
    val spark = Main.session(1, work)
    try {
      val sc = spark.sparkContext
      val rec = new Recorder(spark)
      rec.start()
      (1 to 5).foreach(i => rec(s"call$i")(sc.parallelize(1 to 10, 2).count()))
      rec("none")(())
      rec("two") { sc.parallelize(1 to 5).count(); sc.parallelize(1 to 6).count() }
      sc.parallelize(1 to 3).count() // outside every call
      rec("call1")(sc.parallelize(1 to 4).count())
      val m = rec.finish()
      check("tracer: one job per back-to-back call")((2 to 5).forall(i => m(s"call$i.jobs") == 1.0))
      check("tracer: a repeated call sums its jobs")(m("call1.jobs") == 2.0)
      check("tracer: a call without jobs has none")(m("none.jobs") == 0.0 && m("none.driver_gap_s") == m("none.wall_s"))
      check("tracer: two jobs in one call")(m("two.jobs") == 2.0)
      check("tracer: every task is counted, in a call or not")(m("tasks") == 5 * 2 + 2 + 1 + 1)
    } finally spark.stop()
    check("pins parse")(Main.pins("a=12:3f,b=9:00") == Map("a" -> "12:3f", "b" -> "9:00") && Main.pins("").isEmpty)

    failures.foreach(f => println(s"FAIL $f"))
    println(s"perfbench selftest: $passed passed, ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
