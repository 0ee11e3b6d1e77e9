package graft

/** Benchmark main: runs the headline query set on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"failed":[...],"sf":...,"cpus":N,"rev":...}`.
  * A query with any thrown rep is listed in `failed` and left out of
  * every per-query map and total.
  *
  * Queries are evaluated through the `noop` sink so every output column
  * is materialised (a bare `count()` would let Catalyst prune the
  * projections being measured).
  */
object Bench {

  /** Quadratic-by-design baselines excluded from the headline set —
    * each has a sub-quadratic scale path that IS measured
    * (q26 brute-force n-gram Jaccard → q27 MinHash-LSH;
    * q30 brute-force cosine pairs → q51 banded cosine LSH).
    */
  private val exclude = Set("q26_ngram_jaccard_pairs", "q30_cosine_dup_pairs")

  /** Stage profiles (VERDICT r13 task #6, generalizing r12 #4's
    * CF-only version): EVERY query runs under the stage listener, and
    * any query whose min-of-3 exceeds this threshold gets its per-rep,
    * per-stage run/cpu/gc/io totals recorded into `bench_full.jsonl` —
    * so a round-over-round swing on an expensive query is adjudicated
    * from the artifact (gc_ms vs run_ms vs shuffle volume per rep)
    * instead of by host-band vibes. The listener itself is one small
    * buffer append per stage completion; sub-threshold queries pay
    * that and nothing else.
    */
  private val profileThresholdSec = 2.0

  /** Per-stage metric accumulator. */
  private final class StageCollector
      extends org.apache.spark.scheduler.SparkListener {
    final case class S(id: Int, name: String, tasks: Int, wallMs: Long,
                       runMs: Long, cpuMs: Long, gcMs: Long, inMB: Double,
                       shReadMB: Double, shWriteMB: Double)
    val buf = scala.collection.mutable.ArrayBuffer.empty[S]
    override def onStageCompleted(
        ev: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      synchronized {
        val si = ev.stageInfo
        val tm = si.taskMetrics
        val wall = (for { s <- si.submissionTime; c <- si.completionTime }
          yield c - s).getOrElse(-1L)
        buf += S(si.stageId, si.name.takeWhile(_ != '\n').take(72),
          si.numTasks, wall, tm.executorRunTime,
          tm.executorCpuTime / 1000000L, tm.jvmGCTime,
          tm.inputMetrics.bytesRead / 1e6,
          tm.shuffleReadMetrics.totalBytesRead / 1e6,
          tm.shuffleWriteMetrics.bytesWritten / 1e6)
      }
    def snapshot(): Vector[S] = synchronized { buf.toVector }
    def clear(): Unit = synchronized { buf.clear() }
  }

  /** Per-query min of `current` against every same-surface full sweep
    * retained in `historyPath` (bench_full.jsonl): entries count iff
    * they carry the SAME query-name set (same-surface proxy — any code
    * change that adds or removes a query starts a fresh merge window),
    * the same `sf` (a sf0.001 probe sweep must never contribute its
    * tiny walls to the sf0.1 official minima), the same `cpus` (an
    * 8-core sweep's walls are not a 32-core minimum), the same code
    * revision `rev` (see [[sourceRevision]]; an implementation change
    * that keeps every query name starts a fresh window too), and a
    * timestamp within 24 h of `now` (one round). A line without `cpus`
    * or `rev`, and any line when `rev` is None, never merges. Returns
    * (minima, sweeps merged — 1 means no usable history). min is the right statistic: every
    * per-query number is already a min-of-3 wall of a deterministic
    * computation, so all upward excursions are host noise by
    * construction (the r14 adjudication: three same-code sweeps
    * degraded 321.7 -> 368.3 s on a drifting container).
    */
  private[graft] def mergedMins(
      historyPath: java.nio.file.Path, sfDir: String, cpus: Int,
      rev: Option[String], current: Map[String, Double],
      now: java.time.Instant): (Map[String, Double], Int) = {
    val (mins, _, n) = mergedStats(historyPath, sfDir, cpus, rev, current, now)
    (mins, n)
  }

  /** Cross-sweep per-query MIN and MEDIAN over the round's
    * same-surface, same-sf full sweeps (current sweep included). The
    * min is the graded statistic (every per-query number is already a
    * min-of-3 wall of a deterministic computation, so upward
    * excursions are host noise by construction); the median is its
    * honesty companion (VERDICT r15 #7) — a steady-state slowdown
    * that a lucky single sweep's min could mask shows in the median.
    * LOWER median (the order statistic at index (n−1)/2), no fp
    * averaging — with the typical 3–7 sweeps a midpoint average would
    * manufacture values no sweep measured. Same filters as
    * [[mergedMins]].
    */
  private[graft] def mergedStats(
      historyPath: java.nio.file.Path, sfDir: String, cpus: Int,
      rev: Option[String], current: Map[String, Double],
      now: java.time.Instant):
      (Map[String, Double], Map[String, Double], Int) = {
    import org.json4s._
    def medians(all: Seq[Map[String, Double]]): Map[String, Double] =
      current.keySet.map { k =>
        val vs = all.map(_(k)).sorted
        k -> vs((vs.size - 1) / 2)
      }.toMap
    if (rev.isEmpty || !java.nio.file.Files.exists(historyPath))
      return (current, current, 1)
    val cutoff = now.minusSeconds(24L * 3600L)
    val sweeps = scala.collection.mutable.ArrayBuffer(current)
    val src = scala.io.Source.fromFile(historyPath.toFile)
    try src.getLines().foreach { line =>
      try {
        val j = org.json4s.jackson.JsonMethods.parse(line)
        val at = j \ "at" match {
          case JString(s) => java.time.Instant.parse(s)
          case _          => null
        }
        val qs = j \ "queries" match {
          case JObject(fs) => fs.collect {
            case (k, JDouble(v))  => k -> v
            case (k, JInt(v))     => k -> v.toDouble
            case (k, JDecimal(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty[String, Double]
        }
        val sameSf = j \ "sf" match {
          case JString(s) => s == sfDir
          case _          => false
        }
        val sameCpus = j \ "cpus" match {
          case JInt(n) => n == cpus
          case _       => false
        }
        val sameRev = j \ "rev" match {
          case JString(r) => rev.contains(r)
          case _          => false
        }
        if (at != null && at.isAfter(cutoff) && sameSf && sameCpus && sameRev &&
            qs.keySet == current.keySet) sweeps += qs
      } catch { case _: Throwable => () } // a bad line never kills the bench
    } finally src.close()
    val mins = current.map { case (k, v) =>
      k -> sweeps.map(_(k)).min
    }
    (mins, medians(sweeps.toSeq), sweeps.size)
  }

  /** The code revision a sweep ran: a hash of the `.scala` sources
    * under `dir` (their relative paths and bytes), the way perfbench
    * stamps a checkout without git — unlike git HEAD it also tells
    * uncommitted edits apart — or None when `dir` is not there.
    */
  private[graft] def sourceRevision(dir: java.nio.file.Path): Option[String] =
    if (!java.nio.file.Files.isDirectory(dir)) None
    else {
      import scala.jdk.CollectionConverters._
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toSeq.sortBy(_.toString).foreach { p =>
          md.update(dir.relativize(p).toString.getBytes("UTF-8"))
          md.update(java.nio.file.Files.readAllBytes(p))
        }
      finally walk.close()
      Some("src-sha256:" + md.digest().take(8).map("%02x".format(_)).mkString)
    }

  /** A query's reported wall from its timed reps (None = that rep
    * threw): the min, or None when any rep failed. A thrown rep stops
    * early, so its elapsed time in the min would read as a fast run.
    */
  private[graft] def repsMin(reps: Seq[Option[Double]]): Option[Double] =
    if (reps.isEmpty || reps.exists(_.isEmpty)) None else Some(reps.flatten.min)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    // SPARK_GRAFT_ONLY=q145,q264 times a comma-separated prefix subset
    // (the Verify convention) — for profiling single queries without
    // paying for the whole headline sweep
    val only = RunSelection.parse(sys.env.get("SPARK_GRAFT_ONLY"))
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(exclude)
      .filter(n => RunSelection.selects(only, n))
    // JVM/codegen warm-up on the smallest scale so the first measured
    // query doesn't absorb session start-up cost
    try SparkEntry.entry(spark).write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    // three timed executions per query, report the min: the first run
    // absorbs per-query codegen + page-cache effects, and the third
    // guards against multi-second CPU-steal windows on virtualized
    // hosts (observed: a 0.5 s query reading 36 s across two
    // consecutive runs) that min-of-two cannot ride out
    def runOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    // Per-query isolation (the r11 2-3x same-code swing fix): every
    // query's localCheckpoint/persist blocks release only via the
    // WEAK-REF ContextCleaner, i.e. after a GC actually runs — without
    // one, 250+ earlier queries' checkpoint blocks pile onto the heap
    // and the late (heavy) queries pay their eviction and full-GC
    // pauses inside THEIR timed window. A forced GC between queries
    // (outside the timed section) flushes that debt to its owner.
    // Per-query GC seconds (delta across the 3 reps) are recorded so
    // a future swing is attributable from the artifact alone.
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans
    def gcMillis(): Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
      s
    }
    val stageLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val coll = new StageCollector
    spark.sparkContext.addSparkListener(coll)
    val settled = names.map { name =>
      // Deterministic block release between queries (ADVICE r13): the
      // forced GC alone frees localCheckpoint/persist blocks only via
      // the ASYNC weak-ref ContextCleaner, so blocks from queries that
      // don't release their own storage can still sit on the heap
      // while the next query's timed window runs. Unpersisting every
      // still-registered RDD directly removes the blocks; nothing
      // recomputes from a finished query's frames, so truncated
      // lineage is irrelevant here.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      val g0 = gcMillis()
      // every rep's stages are drained + snapshotted separately so the
      // artifact shows per-rep totals and the top stages of the
      // SLOWEST rep (the one carrying any driver-env mystery seconds)
      val reps = (1 to 3).map { rep =>
        coll.clear()
        val w = runOnce(name)
        org.apache.spark.graftbridge.ListenerBridge
          .drain(spark.sparkContext)
        (rep, w, coll.snapshot())
      }
      val t = repsMin(reps.map(_._2))
      if (t.exists(_ > profileThresholdSec)) {
        // t is defined only when every rep has a wall
        val repJson = reps.map { case (rep, w, st) =>
          val top = st.sortBy(-_.runMs).take(8).map(s =>
            s"""{"stage":${s.id},"name":"${s.name.replace("\"", "'")}","tasks":${s.tasks},"wall_ms":${s.wallMs},"run_ms":${s.runMs},"cpu_ms":${s.cpuMs},"gc_ms":${s.gcMs},"in_mb":${f"${s.inMB}%.1f"},"sh_read_mb":${f"${s.shReadMB}%.1f"},"sh_write_mb":${f"${s.shWriteMB}%.1f"}}""")
            .mkString("[", ",", "]")
          s"""{"rep":$rep,"wall_sec":${w.get},"n_stages":${st.size},"run_ms":${st.map(_.runMs).sum},"cpu_ms":${st.map(_.cpuMs).sum},"gc_ms":${st.map(_.gcMs).sum},"sh_read_mb":${f"${st.map(_.shReadMB).sum}%.1f"},"top_stages":$top}"""
        }.mkString("[", ",", "]")
        stageLines += s""""$name":$repJson"""
      }
      (name, t, (gcMillis() - g0) / 1000.0)
    }
    spark.sparkContext.removeSparkListener(coll)
    // a query with a failed rep is listed, never timed: it stays out
    // of every map and total, and the changed key set keeps this sweep
    // out of later merges
    val failed = settled.collect { case (k, None, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val results = settled.collect { case (k, Some(t), g) => (k, t, g) }

    // ----- cross-sweep minimum merge (VERDICT r14 task #1) -----
    // The round-14 adjudication showed the binding noise source is the
    // CONTAINER, not the engine: three same-code full sweeps degraded
    // monotonically 321.7 -> 368.3 s (+15%) with identical stage
    // structures, and the committed (last) sweep buried a verified 3x
    // CF win under host drift. The official artifact therefore also
    // carries, per query, the MINIMUM across this round's full sweeps:
    // bench_full.jsonl retains every full-sweep per-query line, so the
    // merge filters history to entries with the SAME query-name set,
    // core count and code revision recorded within the last 24 h (one
    // round), then takes per-query min including the current sweep.
    // min is the right statistic here because every per-query number
    // is already a min-of-3 wall of a DETERMINISTIC computation — all
    // upward excursions are host noise by construction.
    val sweep = results.map { case (k, v, _) => k -> v }.toMap
    val rev = sourceRevision(java.nio.file.Paths.get("src", "main", "scala"))
    val (mins, meds, sweepsMerged) =
      if (only.isEmpty)
        mergedStats(java.nio.file.Paths.get("bench_full.jsonl"), sfDir,
          LocalSession.cpus, rev, sweep, java.time.Instant.now())
      else (sweep, sweep, 1)
    val revJson = rev.fold("null")("\"" + _ + "\"")
    val sweepStamp = s""""cpus":${LocalSession.cpus},"rev":$revJson"""
    val qsMin = results.map { case (k, _, _) => "\"" + k + "\":" + mins(k) }
      .mkString("{", ",", "}")
    val totalMin = results.map { case (k, _, _) => mins(k) }.sum
    // the min's honesty companion (VERDICT r15 #7): per-query lower
    // median across the same merged sweeps — a steady-state slowdown
    // that the min masks shows here
    val qsMed = results.map { case (k, _, _) => "\"" + k + "\":" + meds(k) }
      .mkString("{", ",", "}")
    val totalMed = results.map { case (k, _, _) => meds(k) }.sum

    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val gcs = results.map { case (k, _, g) => "\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val gcTotal = results.map(_._3).sum
    // n_runs documents the min-of-N protocol in the recorded artifact
    // itself (per-query numbers are each the min of three timed
    // executions) so a reader needn't consult this source to know the
    // noise envelope the number carries
    // `value`/`queries` stay THIS sweep's numbers (raw history, and
    // the cross-round comparable); `value_min`/`queries_min` are the
    // graded cross-sweep minima with `sweeps_merged` recording how
    // many same-surface sweeps the merge saw (1 = no history). The
    // driver retains only the LAST 2000 chars of stdout, so the
    // headline min fields sit at the END of the printed line (inside
    // the kept tail); the full queries_min map rides bench_full.jsonl,
    // which is where per-query numbers are read from anyway.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","n_runs":3,"gc_sec":$gcTotal,"queries":$qs,"failed":$failed,"sf":"$sfDir",$sweepStamp,"value_median":$totalMed,"value_min":$totalMin,"sweeps_merged":$sweepsMerged}"""
    val stagesJson =
      if (stageLines.isEmpty) ""
      else s""","stage_profiles":${stageLines.mkString("{", ",", "}")}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","n_runs":3,"gc_sec":$gcTotal,"value_min":$totalMin,"value_median":$totalMed,"sweeps_merged":$sweepsMerged,"queries_min":$qsMin,"queries_median":$qsMed,"queries":$qs,"gc_queries":$gcs,"failed":$failed$stagesJson,"sf":"$sfDir",$sweepStamp}"""
    println(line)
    // defend against the driver's 2000-char stdout-tail truncation
    // (BENCH_r6/r7 lost per-query history for a third of the set): the
    // full per-query line is ALSO appended to a committed jsonl, one
    // line per run with a wall-clock stamp for cross-round comparison
    // subset runs (SPARK_GRAFT_ONLY) are profiling probes — keep them
    // out of the committed full-sweep history
    // subset (SPARK_GRAFT_ONLY) runs are profiling probes: surface the
    // stage profiles on stderr instead of the committed jsonl
    if (only.nonEmpty && stageLines.nonEmpty)
      System.err.println(
        s"""[bench] stage_profiles: ${stageLines.mkString("{", ",", "}")}""")
    if (only.isEmpty) try {
      val stamp = java.time.Instant.now().toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_full.jsonl"),
        s"""{"at":"$stamp",${fullLine.drop(1)}""" + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Throwable => () } // best-effort: never fail the bench
    spark.stop()
  }
}
