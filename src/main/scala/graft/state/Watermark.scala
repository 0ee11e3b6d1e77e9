package graft.state

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{Path => HPath}

/** Incremental-ingest watermark state.
  *
  * The reference persists `successful_run_log/log.json` with
  * `{requests_retrieved, since, current_run, note}` and writes it only
  * AFTER a successful run (qalert_requests_gcs.py:27,62-68;
  * find_last_successful_run gcs_utils.py:893-904). A failed run leaves
  * the previous watermark in place, so the next run re-pulls the same
  * window — at-least-once with downstream dedup.
  *
  * Batch-incremental Spark analog: a tiny JSON state file read at job
  * start and replaced at job end through [[StateDirs]], the crash-safe
  * replace-and-read protocol every rotated state in graft uses — so
  * the previous watermark survives any single crash point (the
  * reference's own contract), on whatever Hadoop `FileSystem` the path
  * names (the production watermark lives on shared storage, not an
  * executor-local disk).
  */
object Watermark {

  final case class RunLog(since: Long, currentRun: Long, recordsRetrieved: Long)

  private val SinceRe   = "\"since\"\\s*:\\s*(\\d+)".r
  private val CurrentRe = "\"current_run\"\\s*:\\s*(\\d+)".r
  // the reference's per-feed loaders each name the count after their
  // noun ("requests_retrieved" qalert_gcs.py:97, etc.); accept any
  // *_retrieved key so pointing at a migrated production log does not
  // silently read the count as 0, and write the generic form
  private val CountRe   = "\"[A-Za-z_]*retrieved\"\\s*:\\s*(\\d+)".r

  private def readAll(path: String): String = {
    val in = StateDirs.fsFor(path).open(new HPath(path))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Read the last successful run's watermark; `default` (e.g. the
    * backfill epoch) when no log exists — the reference's
    * `find_backfill_date` fallback (airflow_utils.py:250-308). Reads
    * through [[StateDirs.current]], so a crashed replace's `.old`
    * snapshot still answers.
    */
  def lastSuccessfulRun(path: String, default: Long = 0L): RunLog =
    StateDirs.current(path) match {
      case None => RunLog(default, default, 0L)
      case Some(p) =>
        val s = readAll(p)
        RunLog(
          SinceRe.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(default),
          CurrentRe.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(default),
          CountRe.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L))
    }

  /** Record a successful run: the next run's `since` is this run's
    * `current_run`. One [[StateDirs.replace]]; a failed step throws, so
    * the run is not recorded successful without its watermark.
    */
  def recordSuccess(path: String, currentRun: Long, recordsRetrieved: Long): Unit = {
    val prev = lastSuccessfulRun(path)
    val json =
      s"""{"since": ${prev.currentRun}, "current_run": $currentRun, "records_retrieved": $recordsRetrieved}"""
    StateDirs.replace(path) { next =>
      val out = StateDirs.fsFor(next).create(new HPath(next), true)
      try out.write(json.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Listing-based backfill-date inference — the reference's
    * `find_backfill_date` (airflow_utils.py:250-308): when the run log
    * is MISSING (lost state, first deploy), infer the resume date from
    * the date-partitioned output tree itself. Walk month prefixes
    * `<dir>/yyyy/MM` backwards from `asOf`'s month while year >
    * `earliestYear` (the reference's hard 2017 floor); the first month
    * holding at least one NON-EMPTY file (the reference's size > 0 kb
    * guard — zero-byte drops are failed uploads) answers with the
    * LATEST modification date among those files; if no month
    * qualifies, fall back to yesterday (asOf − 1 day), the reference's
    * terminal default. Timestamps resolve in UTC — the engine-wide
    * session timezone — where the reference used the feed's local tz.
    *
    * Scale shape: driver-side metadata listing of at most one month
    * prefix per probe (never the whole tree), bounded by the year
    * floor; no data is read.
    */
  def findBackfillDate(dirPath: String, asOf: java.time.LocalDate,
                       earliestYear: Int = 2017): java.time.LocalDate = {
    val fs = StateDirs.fsFor(dirPath)
    var ym = java.time.YearMonth.from(asOf)
    while (ym.getYear > earliestYear) {
      val prefix = new HPath(
        f"$dirPath/${ym.getYear}%04d/${ym.getMonthValue}%02d")
      if (fs.exists(prefix)) {
        val it = fs.listFiles(prefix, true)
        var latest = Long.MinValue
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getLen > 0 && st.getModificationTime > latest)
            latest = st.getModificationTime
        }
        if (latest != Long.MinValue)
          return java.time.Instant.ofEpochMilli(latest)
            .atZone(java.time.ZoneOffset.UTC).toLocalDate
      }
      ym = ym.minusMonths(1)
    }
    asOf.minusDays(1)
  }
}
