package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cross-sweep minimum merge behind BENCH's `queries_min` /
  * `value_min` fields (VERDICT r14 task #1): per-query min over the
  * round's same-surface, same-sf full sweeps in bench_full.jsonl.
  */
class BenchMergeSpec extends AnyFunSuite {

  private val now = java.time.Instant.parse("2026-08-16T12:00:00Z")
  private val sf  = "/root/testdata/sf0.1"

  private def withHistory(lines: Seq[String])(
      f: java.nio.file.Path => Unit): Unit = {
    val p = java.nio.file.Files.createTempFile("benchmerge", ".jsonl")
    try {
      java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
      f(p)
    } finally java.nio.file.Files.deleteIfExists(p)
  }

  // the current sweep's core count and code revision
  private val cpus = 32
  private val rev = Some("src-sha256:r1")

  /** A history line; `stamp` is its cpus/rev fields, the current
    * sweep's by default.
    */
  private def entry(at: String, sfDir: String, qs: Map[String, Double],
                    stamp: String = """"cpus":32,"rev":"src-sha256:r1","""): String = {
    val qj = qs.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    s"""{"at":"$at",$stamp"metric":"total","value":1.0,"queries":$qj,"sf":"$sfDir"}"""
  }

  test("same-surface same-sf sweeps inside 24h merge to per-query minima") {
    val cur = Map("q1" -> 5.0, "q2" -> 1.0)
    withHistory(Seq(
      entry("2026-08-16T09:00:00Z", sf, Map("q1" -> 3.0, "q2" -> 2.0)),
      entry("2026-08-16T11:00:00Z", sf, Map("q1" -> 4.0, "q2" -> 0.5)))) { p =>
      val (mins, n) = Bench.mergedMins(p, sf, cpus, rev, cur, now)
      assert(n === 3)
      assert(mins === Map("q1" -> 3.0, "q2" -> 0.5))
    }
  }

  test("stale, different-sf, different-surface, and bad lines are ignored") {
    val cur = Map("q1" -> 5.0, "q2" -> 1.0)
    withHistory(Seq(
      // > 24h old: a previous round's container, not this round's
      entry("2026-08-14T09:00:00Z", sf, Map("q1" -> 0.1, "q2" -> 0.1)),
      // different sf: a sf0.001 probe sweep
      entry("2026-08-16T09:00:00Z", "/root/testdata/sf0.001",
        Map("q1" -> 0.01, "q2" -> 0.01)),
      // different query-name set: code changed mid-round
      entry("2026-08-16T10:00:00Z", sf, Map("q1" -> 0.2)),
      entry("2026-08-16T10:30:00Z", sf,
        Map("q1" -> 0.2, "q2" -> 0.2, "q3" -> 0.2)),
      // unparseable garbage must never kill the bench
      "not json at all",
      entry("2026-08-16T11:00:00Z", sf, Map("q1" -> 4.0, "q2" -> 2.0)))) { p =>
      val (mins, n) = Bench.mergedMins(p, sf, cpus, rev, cur, now)
      assert(n === 2) // only the last entry qualifies
      assert(mins === Map("q1" -> 4.0, "q2" -> 1.0))
    }
  }

  test("missing history file returns the current sweep unchanged") {
    val cur = Map("q1" -> 5.0)
    val ghost = java.nio.file.Paths.get("/tmp/graft_no_such_history.jsonl")
    val (mins, n) = Bench.mergedMins(ghost, sf, cpus, rev, cur, now)
    assert(n === 1)
    assert(mins === cur)
  }

  test("mergedStats: the median companion is the LOWER median over " +
    "the same filtered sweeps and reuses the min's filters " +
    "(VERDICT r15 #7)") {
    val cur = Map("q1" -> 5.0, "q2" -> 1.0)
    withHistory(Seq(
      entry("2026-08-16T09:00:00Z", sf, Map("q1" -> 3.0, "q2" -> 2.0)),
      // filtered out: different surface — must not enter the median
      entry("2026-08-16T09:30:00Z", sf, Map("q1" -> 99.0)),
      entry("2026-08-16T11:00:00Z", sf, Map("q1" -> 4.0, "q2" -> 0.5)))) { p =>
      val (mins, meds, n) = Bench.mergedStats(p, sf, cpus, rev, cur, now)
      assert(n === 3)
      assert(mins === Map("q1" -> 3.0, "q2" -> 0.5))
      // q1 over {3,4,5} -> 4; q2 over {0.5,1,2} -> 1 (true middles);
      // masking scenario: a single lucky min (q2 0.5) does not drag
      // the median below the steady state
      assert(meds === Map("q1" -> 4.0, "q2" -> 1.0))
    }
    // even sweep count: LOWER median (order statistic, no averaging)
    withHistory(Seq(
      entry("2026-08-16T11:00:00Z", sf, Map("q1" -> 4.0, "q2" -> 0.5)))) { p =>
      val (_, meds, n) = Bench.mergedStats(p, sf, cpus, rev, cur, now)
      assert(n === 2)
      assert(meds === Map("q1" -> 4.0, "q2" -> 0.5))
    }
  }

  test("repsMin: the min over clean reps; any thrown rep makes the " +
    "query a failure, never a fast run") {
    assert(Bench.repsMin(Seq(Some(3.0), Some(1.5), Some(2.0))) === Some(1.5))
    // a crash stops early: its elapsed time must not become the min
    assert(Bench.repsMin(Seq(Some(3.0), None, Some(2.0))) === None)
    assert(Bench.repsMin(Seq(None, None, None)) === None)
    assert(Bench.repsMin(Seq.empty) === None)
  }

  test("a sweep that failed a query merges with no full sweep, in " +
    "either direction") {
    val full = Map("q1" -> 5.0, "q2" -> 1.0)
    // the earlier sweep failed q2, so it recorded only q1 (a fast 0.1)
    withHistory(Seq(
      entry("2026-08-16T09:00:00Z", sf, Map("q1" -> 0.1)),
      entry("2026-08-16T10:00:00Z", sf, Map("q1" -> 4.0, "q2" -> 2.0)))) { p =>
      val (mins, meds, n) = Bench.mergedStats(p, sf, cpus, rev, full, now)
      assert(n === 2)
      assert(mins === Map("q1" -> 4.0, "q2" -> 1.0))
      assert(meds === Map("q1" -> 4.0, "q2" -> 1.0))
      // this sweep failed q2: it merges with no full sweep
      val (mins1, _, n1) = Bench.mergedStats(p, sf, cpus, rev, Map("q1" -> 3.0), now)
      assert(n1 === 2) // only the other q2-failed sweep shares its key set
      assert(mins1 === Map("q1" -> 0.1))
    }
  }

  test("a sweep merges only with lines of its own core count and code " +
    "revision; a line missing either stamp never merges") {
    val cur = Map("q1" -> 5.0, "q2" -> 1.0)
    withHistory(Seq(
      // an 8-core sweep: its walls are no 32-core minimum
      entry("2026-08-16T09:00:00Z", sf, Map("q1" -> 0.1, "q2" -> 0.1),
        """"cpus":8,"rev":"src-sha256:r1","""),
      // the same cores on other code
      entry("2026-08-16T09:30:00Z", sf, Map("q1" -> 0.2, "q2" -> 0.2),
        """"cpus":32,"rev":"src-sha256:r0","""),
      // unstamped, or half stamped: cores and code unknown
      entry("2026-08-16T10:00:00Z", sf, Map("q1" -> 0.3, "q2" -> 0.3), ""),
      entry("2026-08-16T10:10:00Z", sf, Map("q1" -> 0.3, "q2" -> 0.3),
        """"cpus":32,"""),
      entry("2026-08-16T10:20:00Z", sf, Map("q1" -> 0.3, "q2" -> 0.3),
        """"rev":"src-sha256:r1","""),
      entry("2026-08-16T11:00:00Z", sf, Map("q1" -> 4.0, "q2" -> 2.0)))) { p =>
      val (mins, meds, n) = Bench.mergedStats(p, sf, cpus, rev, cur, now)
      assert(n === 2) // only the last entry qualifies
      assert(mins === Map("q1" -> 4.0, "q2" -> 1.0))
      assert(meds === Map("q1" -> 4.0, "q2" -> 1.0))
      // a sweep that cannot name its code merges with nothing
      assert(Bench.mergedStats(p, sf, cpus, None, cur, now) === ((cur, cur, 1)))
    }
  }

  test("sourceRevision: a stable hash of the sources that moves with " +
    "any edit, and None without a source tree") {
    val dir = java.nio.file.Files.createTempDirectory("benchrev")
    try {
      val f = dir.resolve("A.scala")
      java.nio.file.Files.writeString(f, "object A")
      val r1 = Bench.sourceRevision(dir)
      assert(r1.exists(_.startsWith("src-sha256:")))
      assert(Bench.sourceRevision(dir) === r1)
      java.nio.file.Files.writeString(f, "object A { }")
      assert(Bench.sourceRevision(dir) !== r1)
      assert(Bench.sourceRevision(dir.resolve("missing")) === None)
    } finally TempTrees.deleteQuietly(dir)
  }
}
