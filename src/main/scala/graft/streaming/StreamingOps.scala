package graft.streaming

import graft.state.StateDirs
import graft.tables.MasterTables
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming / incremental semantics (SURVEY §2.12).
  *
  * The reference is scheduled micro-batch (hourly/daily Airflow DAGs)
  * with a watermark file and master-table merges; there is no true
  * stream. This module provides both:
  *  - the batch-incremental path (`foreachBatchMerge`) that reproduces
  *    the reference's staged upsert inside a Structured Streaming
  *    `foreachBatch`, and
  *  - true Structured Streaming operators (tumbling/sliding windowed
  *    aggregation with event-time watermarks, stateful sessionization
  *    via flatMapGroupsWithState) for the capabilities a Spark-native
  *    engine adds beyond the reference.
  */
object StreamingOps {

  /** File-source stream over a directory of the reference's
    * time-bucketed ndjson/parquet drops. Checkpointed offsets replace
    * `successful_run_log/log.json`.
    */
  def fileStream(spark: SparkSession, path: String, schema: StructType,
                 format: String = "json"): DataFrame =
    spark.readStream.schema(schema).format(format).load(path)

  /** Tumbling-window aggregation with an event-time watermark:
    * count + sum per (window, key). The streaming twin of the
    * reference's hourly batch rollups.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     valueCol: String, windowLen: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol),
        col("n"), col("total_value"))

  /** Sliding-window variant. */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowLen: String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))

  /** Streaming dedup with bounded state: duplicates arriving within
    * the watermark window are dropped, state for old keys is evicted —
    * the streaming twin of the training-data exact-dedup and the
    * reference's SELECT DISTINCT staging.
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String], tsCol: String,
                     watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked stream-stream inner join on a key within a time
    * bound — the streaming form of the reference's staged enrichment
    * joins. The right side's key column is renamed `r_<key>`
    * internally (stream-stream joins need distinct column names); a
    * right frame already carrying `r_<key>` is used as-is.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String,
                       watermark: String, within: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val r = if (right.columns.contains(key))
      right.withColumnRenamed(key, s"r_$key") else right
    left.withWatermark(leftTs, watermark)
      .join(r.withWatermark(rightTs, watermark),
        expr(s"$key = r_$key AND $rightTs BETWEEN $leftTs - INTERVAL $within AND $leftTs + INTERVAL $within"))
  }

  // ------------------------------------------------------------------
  // Stateful sessionization (flatMapGroupsWithState)
  // ------------------------------------------------------------------

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, lastSeen: Long, n: Int)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Int)

  /** Fold this group's events (time-ordered) into the running session
    * state, returning (closed sessions oldest-first, trailing open
    * session).
    */
  private def foldSessions(uid: Long, evs: Iterator[Event], prior: Option[SessionState],
                           gapMs: Long): (List[Session], Option[SessionState]) = {
    val sorted = evs.toSeq.sortBy(_.ts.getTime)
    var sessions = List.empty[Session]
    var cur = prior
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        // min/max: a LATE event from an earlier micro-batch (within the
        // watermark) must extend the session backward, not drag
        // lastSeen backward — a regressed lastSeen would later close an
        // inverted session and split a continuous one
        case Some(s) if t - s.lastSeen <= gapMs =>
          cur = Some(s.copy(start = math.min(s.start, t),
            lastSeen = math.max(s.lastSeen, t), n = s.n + 1))
        case Some(s) =>
          sessions ::= Session(uid, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.lastSeen), s.n)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    (sessions.reverse, cur)
  }

  /** Gap-based sessionization for BATCH execution only: each group is
    * seen exactly once, so the trailing (still-open) session is closed
    * and emitted at end of group. Under a real stream this would
    * re-emit the open session every micro-batch — use
    * `sessionizeStreaming` there.
    */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    require(!events.isStreaming,
      "sessionize is batch-only (re-emits the open trailing session); use sessionizeStreaming for streams")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[SessionState]) =>
          val (closed, cur) = foldSessions(uid, evs, state.getOption, gapMs)
          // batch mode: close the trailing session — the group will not
          // be revisited
          val trailing = cur.map { s =>
            Session(uid, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastSeen), s.n)
          }
          cur.foreach(state.update)
          (closed ++ trailing).iterator
      }
  }

  /** Streaming-correct sessionization: only gap-closed sessions are
    * emitted as data arrives; the in-progress session stays in state
    * and is flushed exactly once by an event-time timeout after the
    * watermark passes `lastSeen + gapMs`. Requires `events` to carry a
    * watermark on `ts` (set `watermarkDelay` accordingly upstream).
    */
  def sessionizeStreaming(events: Dataset[Event], gapMs: Long,
                          watermarkDelay: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, _, state: GroupState[SessionState]) if state.hasTimedOut =>
          // watermark passed lastSeen + gap: the open session is final
          val out = state.getOption.map { s =>
            Session(uid, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastSeen), s.n)
          }
          state.remove()
          out.iterator
        case (uid, evs, state: GroupState[SessionState]) =>
          val (closed, cur) = foldSessions(uid, evs, state.getOption, gapMs)
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.lastSeen + gapMs)
          }
          closed.iterator
      }
  }

  final case class TransState(lastTs: Long, lastType: String)
  final case class Transition(user_id: Long, from_type: String,
                              to_type: String, ts: java.sql.Timestamp)

  /** Streaming twin of [[graft.operators.AnalyticsOps.transitionCounts]]:
    * one row per consecutive (from → to) event-type transition per
    * user, emitted incrementally. State per user is ONE (lastTs,
    * lastType) pair — flat in stream length, the same
    * signature-only-state discipline as the incremental dedup paths.
    * Aggregation to the (from_type, to_type, n) matrix is left to the
    * consumer (a downstream streaming agg or the batch report) so this
    * stage stays Append-mode composable.
    *
    * Within a micro-batch events sort by (ts, event_type) — the
    * deterministic tie-break. Across batches the per-user state only
    * moves FORWARD in event time: an event at-or-before the user's
    * recorded lastTs is a same-instant duplicate or a cross-batch
    * straggler whose true predecessor was already consumed; emitting a
    * transition from the NEWER state would fabricate an order the
    * event stream never had, so such events are dropped (counted
    * nowhere) rather than mis-attributed. With the watermark upstream
    * of this operator the drop window is bounded by `watermarkDelay`,
    * and in-order delivery reproduces the batch matrix exactly (the
    * StreamingSpec cross-check).
    */
  def transitionsStreaming(events: Dataset[Event],
                           watermarkDelay: String): Dataset[Transition] = {
    import events.sparkSession.implicits._
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay)
      else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[TransState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
          var prev = state.getOption
          val out = sorted.flatMap { e =>
            val t = e.ts.getTime
            prev match {
              case Some(p) if t <= p.lastTs && !(t == p.lastTs && e.event_type == p.lastType) =>
                // strictly-late straggler: its true position in the
                // user's sequence is already consumed — drop, never
                // fabricate a backward transition
                None
              case Some(p) =>
                prev = Some(TransState(t, e.event_type))
                Some(Transition(uid, p.lastType, e.event_type, e.ts))
              case None =>
                prev = Some(TransState(t, e.event_type))
                None
            }
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  final case class CusumState(sScaled: Long, openDay: Long, openCount: Long)
  final case class CusumPoint(event_type: String, day: java.sql.Date,
                              n_events: Long, cusum: Double, alarm: Boolean)

  /** Streaming twin of [[graft.operators.AnalyticsOps.cusumAlarms]]
    * with a FIXED rational reference mean μ = muNum/muDen events/day
    * (the batch form's data-derived μ needs the whole series — a
    * fixed target is the standard streaming-CUSUM formulation; feed
    * it last period's batch mean). A day CLOSES when a later day's
    * event arrives for the group; closing emits the day's point and
    * folds S ← max(0, S + n·muDen − muNum), with every SKIPPED
    * calendar day in between contributing its genuine zero
    * (n = 0 ⇒ S ← max(0, S − muNum)) — the batch dense-grid
    * semantics. All state arithmetic is scaled by muDen, so S, the
    * deviations, and the alarm test S > alarmMult·muNum are exact
    * INTEGER operations; `cusum` is the one closing division.
    *
    * State per group is three longs — flat in stream length. Events
    * for already-closed days are stragglers and are dropped (the
    * transitionsStreaming contract: Append mode cannot retract an
    * emitted day). In-order delivery reproduces the fixed-μ batch
    * recurrence exactly (StreamingSpec cross-check).
    */
  def cusumStreaming(events: Dataset[Event], muNum: Long, muDen: Long,
                     alarmMult: Long,
                     watermarkDelay: String): Dataset[CusumPoint] = {
    require(muNum >= 0 && muDen > 0, "mean must be a non-negative rational")
    require(alarmMult >= 1, "alarmMult must be at least 1")
    import events.sparkSession.implicits._
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay)
      else events
    def dayOf(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 86400000L)
    src
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (etype, evs, state: GroupState[CusumState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumPoint]
          var st = state.getOption.getOrElse(CusumState(0L, Long.MinValue, 0L))
          def close(day: Long, n: Long): Unit = {
            val s = math.max(0L, st.sScaled + n * muDen - muNum)
            out += CusumPoint(etype,
              new java.sql.Date(day * 86400000L), n,
              s.toDouble / muDen.toDouble, s > alarmMult * muNum)
            st = CusumState(s, day, 0L)
          }
          evs.toSeq.map(e => dayOf(e.ts)).sorted.foreach { d =>
            if (st.openDay == Long.MinValue) st = st.copy(openDay = d)
            if (d == st.openDay) st = st.copy(openCount = st.openCount + 1)
            else if (d > st.openDay) {
              close(st.openDay, st.openCount)
              var skipped = st.openDay + 1
              while (skipped < d) { close(skipped, 0L); skipped += 1 }
              st = CusumState(st.sScaled, d, 1L)
            } // d < openDay: straggler for a closed day — drop
          }
          state.update(st)
          out.iterator
      }
  }

  final case class FunnelState(completions: Seq[Long])
  final case class FunnelCompletion(user_id: Long, step_idx: Int,
                                    step: String, ts: java.sql.Timestamp)

  /** Streaming twin of [[graft.operators.AnalyticsOps.funnel]]: emits
    * one row per (user, step) the FIRST time the user completes that
    * step under the batch operator's exact semantics — step i counts
    * at the earliest event of its type STRICTLY after the step-i−1
    * completion (and within `maxGapSecs` of it when set). State per
    * user is #steps longs (the completion timestamps) — flat in
    * stream length, the signature-only-state discipline.
    *
    * Within a micro-batch events sort by (ts, event_type); because a
    * completion, once set, is the MINIMUM the batch form would pick
    * only under in-order delivery, cross-batch stragglers older than
    * an already-set completion are dropped (the transitionsStreaming
    * contract): re-opening a completed step would retract emitted
    * rows, which Append mode cannot express. In-order replay
    * reproduces the batch funnel exactly (StreamingSpec cross-check);
    * the counts report is `groupBy(step_idx).count` downstream.
    */
  def funnelStreaming(events: Dataset[Event], steps: Seq[String],
                      watermarkDelay: String,
                      maxGapSecs: Option[Long] = None): Dataset[FunnelCompletion] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxGapSecs.forall(_ > 0), "conversion window must be positive")
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay)
      else events
    src
      .filter(e => stepIdx.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelCompletion](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[FunnelState]) =>
          val comps = state.getOption
            .map(_.completions.toArray)
            .getOrElse(Array.fill(steps.size)(Long.MinValue))
          // MICROsecond precision throughout — the batch operator
          // compares unix_micros, and ms truncation would flip the
          // strictly-after rule on sub-ms data
          def micros(ts: java.sql.Timestamp): Long =
            math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_type))
          val out = Seq.newBuilder[FunnelCompletion]
          sorted.foreach { e =>
            val i = stepIdx(e.event_type)
            val t = micros(e.ts)
            if (comps(i) == Long.MinValue) {
              val prevOk =
                if (i == 0) true
                else comps(i - 1) != Long.MinValue && t > comps(i - 1) &&
                  maxGapSecs.forall(g => t - comps(i - 1) <= g * 1000000L)
              if (prevOk) {
                comps(i) = t
                out += FunnelCompletion(uid, i + 1, steps(i), e.ts)
              }
            }
            // an event for an already-completed step, or one that fails
            // the strictly-after/window rule, contributes nothing —
            // identical to the batch min-chain under in-order delivery
          }
          state.update(FunnelState(comps.toSeq))
          out.result().iterator
      }
  }

  /** The reference's staged upsert, streaming-ified: each micro-batch
    * runs the master-table merge inside `foreachBatch`, mirroring how
    * each hourly DAG run merges `incoming_*` into `all_*`
    * (qalert_airflow.py:113-217).
    *
    * The master is read and replaced through [[graft.state.StateDirs]]:
    * a failed rotation step fails the BATCH (foreachBatch retries it)
    * instead of committing the checkpoint over a half-rotated master,
    * and a retry after a crash between the rotation renames merges
    * against the `.old` copy rather than an empty base, so no history
    * is lost. A retried micro-batch re-runs `deleteOldInsertNew` with
    * the same rows against the same keys — the merge is idempotent, so
    * no batch marker is needed here.
    */
  def foreachBatchMerge(
      incoming: DataFrame, masterPath: String, keys: Seq[String],
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow()) = {
    val spark = incoming.sparkSession
    incoming.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // only when neither the master nor its `.old` copy exists is
        // this genuinely the first batch
        val base = StateDirs.current(masterPath)
          .fold(batch.limit(0))(spark.read.parquet(_))
        val merged = MasterTables.deleteOldInsertNew(base, batch, keys)
        StateDirs.replace(masterPath)(merged.write.mode("overwrite").parquet(_))
      }
  }

  /** One micro-batch of streaming corpus admission, exposed for direct
    * testing and batch-mode replay. The batch is near-dup-checked
    * against the persisted signature state (NEVER the corpus text) via
    * `NearDup.incrementalDedupManaged`; admitted rows and their signatures
    * land in per-batch partitions `outPath/batch=<id>` and
    * `sigPath/batch=<id>`.
    *
    * Idempotent per `batchId`: both writes are `overwrite` of the
    * batch's own partition, a fully-committed batch (both `_SUCCESS`
    * markers present) is skipped outright, and a half-written retry
    * excludes its own partial `batch=<id>` signatures from the corpus
    * state before re-deciding — so a crash between the two writes can
    * neither double-admit nor leak signatures for rows that were never
    * admitted. All existence checks go through the Hadoop `FileSystem`
    * of the path (HDFS/S3-safe), with a read-and-catch fallback for a
    * state dir that exists but holds no readable footers yet.
    *
    * Cache hygiene: admission holds ONE cache per batch — the batch
    * rows with their signatures, read by both writes — beside one
    * eager cut of the verified candidate pairs (see
    * `CorpusPipeline.admitBatch`); the stored signature state is read,
    * never cached. By default the batch releases that cache (dead
    * weight once the writes land) at the DATASET level via the handle
    * `incrementalDedupManaged` returns — removing the CacheManager
    * entry too, so a long-running stream does not accumulate
    * InMemoryRelations on the driver. Caches owned by other queries on
    * the same SparkContext are untouched. `cleanupCaches = false` opts
    * out (e.g. to inspect the cached batch after a test run).
    */
  def dedupBatch(batch: DataFrame, batchId: Long, idCol: String, textCol: String,
                 sigPath: String, outPath: String, threshold: Double,
                 cleanupCaches: Boolean = true): Unit =
    runAdmissionBatch(batch, batchId, sigPath, outPath, cleanupCaches,
      graft.dedup.NearDup.minhashSignatures(batch.limit(0), idCol, textCol)) {
      graft.dedup.NearDup.incrementalDedupManaged(_, batch, idCol, textCol,
        threshold = threshold)
    }

  /** The runner [[dedupBatch]] and [[semanticDedupBatch]] share: skip a
    * fully-committed batch (both `_SUCCESS` markers), read the corpus
    * state without this batch's own `batch=<id>` partition (`empty`
    * when the store holds no readable footers yet), `admit` the batch
    * against it, overwrite both batch partitions, then release the
    * admission's cache.
    */
  private def runAdmissionBatch(batch: DataFrame, batchId: Long,
      statePath: String, outPath: String, cleanupCaches: Boolean,
      empty: => DataFrame)(
      admit: DataFrame => (DataFrame, DataFrame, () => Unit)): Unit = {
    val spark    = batch.sparkSession
    val hconf    = spark.sparkContext.hadoopConfiguration
    val stateDir = new HPath(new HPath(statePath), s"batch=$batchId")
    val outDir   = new HPath(new HPath(outPath), s"batch=$batchId")
    def committed(dir: HPath) =
      dir.getFileSystem(hconf).exists(new HPath(dir, "_SUCCESS"))
    if (!(committed(stateDir) && committed(outDir))) {
      val state =
        try {
          val all = spark.read.parquet(statePath)
          // `batch` is the partition-discovery column; a retry must not
          // see its own half-written state as "the corpus"
          if (all.columns.contains("batch"))
            all.filter(col("batch") =!= batchId).drop("batch")
          else all
        } catch { case _: org.apache.spark.sql.AnalysisException => empty }
      val (admitted, newState, release) = admit(state)
      try {
        admitted.write.mode("overwrite").parquet(outDir.toString)
        newState.write.mode("overwrite").parquet(stateDir.toString)
      } finally if (cleanupCaches) release()
    }
  }

  /** Streaming corpus admission: each micro-batch runs [[dedupBatch]],
    * so later batches see every earlier admission through the signature
    * partitions. The per-batch cost is batch-sized — the growing corpus
    * contributes only its band keys. Readers of `outPath`/`sigPath` see
    * an extra `batch` partition column (drop it if unwanted).
    */
  def incrementalDedupStream(
      incoming: DataFrame, idCol: String, textCol: String,
      sigPath: String, outPath: String, checkpoint: String,
      threshold: Double = 0.7,
      trigger: Trigger = Trigger.AvailableNow()) = {
    incoming.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupBatch(batch, batchId, idCol, textCol, sigPath, outPath, threshold)
      }
  }

  /** One micro-batch of streaming SEMANTIC corpus admission — the
    * embedding twin of [[dedupBatch]]: the batch is cosine-checked
    * against the persisted int8-quantized state (NEVER the corpus
    * fp32 vectors) via
    * [[graft.pipelines.CorpusPipeline.incrementalSemanticDedupManaged]];
    * admitted rows land in `outPath/batch=<id>` and their quantized
    * state in `statePath/batch=<id>`.
    *
    * It runs through [[dedupBatch]]'s runner, so the same idempotency
    * protocol, crash windows and cache hygiene hold.
    */
  def semanticDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                         vecCol: String, statePath: String, outPath: String,
                         threshold: Double, bands: Int = 96,
                         bitsPerBand: Int = 6,
                         cleanupCaches: Boolean = true): Unit =
    runAdmissionBatch(batch, batchId, statePath, outPath, cleanupCaches,
      graft.similarity.Ann.quantizeInt8(batch.limit(0), idCol, vecCol)) {
      graft.pipelines.CorpusPipeline.incrementalSemanticDedupManaged(
        _, batch, idCol, vecCol, threshold, bands, bitsPerBand)
    }

  /** Streaming semantic corpus admission: each micro-batch runs
    * [[semanticDedupBatch]], so later batches see every earlier
    * admission through the int8 state partitions. Per-batch cost is
    * batch-sized at selective band parameters — the growing corpus
    * contributes only its band keys and (for verified candidates) its
    * code rows; the SemIncProbe (see git rev e766bb7) table in SCALE.md prices the
    * parameterization. Readers of `outPath`/`statePath` see an extra
    * `batch` partition column (drop it if unwanted).
    */
  def incrementalSemanticDedupStream(
      incoming: DataFrame, idCol: String, vecCol: String,
      statePath: String, outPath: String, checkpoint: String,
      threshold: Double = 0.85, bands: Int = 96, bitsPerBand: Int = 6,
      trigger: Trigger = Trigger.AvailableNow()) = {
    incoming.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        semanticDedupBatch(batch, batchId, idCol, vecCol, statePath, outPath,
          threshold, bands, bitsPerBand)
      }
  }

  /** Incremental sibling of
    * [[graft.operators.AnalyticsOps.slidingDau]]: each micro-batch
    * appends its DAILY-deduped (user, active day) pairs as one state
    * partition; a retried batch overwrites its own partition, so
    * replays are no-ops by IDEMPOTENT SET ALGEBRA (the hllBatch
    * contract), and the estimate-on-read dedups across partitions —
    * two batches both observing a (user, day) cannot double-count.
    * State volume is the deduped activity, never the raw event count.
    */
  def dauBatch(batch: DataFrame, batchId: Long, userCol: String,
               tsCol: String, statePath: String): Unit = {
    val ud = batch.filter(col(userCol).isNotNull)
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__day"))
      .distinct()
    ud.write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
  }

  /** The exact sliding-window DAU over everything [[dauBatch]] has
    * admitted: cross-partition distinct, then the batch operator's
    * own explode/clamp pipeline — incremental ≡ batch by
    * construction (spec-pinned).
    */
  def dauFromState(spark: SparkSession, statePath: String,
                   windowDays: Int = 7): DataFrame =
    graft.operators.AnalyticsOps.slidingDau(
      spark.read.parquet(statePath)
        .select(col("__u").as("user_id"),
          col("__day").cast("timestamp").as("ts")),
      "user_id", "ts", windowDays)

  /** Incremental graph state: edge micro-batches append as one
    * partition each (the [[dauBatch]] contract — retried batches
    * overwrite themselves, replay is a no-op by set algebra since
    * every reader normalizes/dedups edges), and the graph analytics
    * recompute on read. Min-label components and Bellman–Ford costs
    * both re-converge from scratch in O(log diameter)/O(horizon)
    * rounds, so "recompute on read" IS the honest incremental story
    * for them — unlike sketches there is no cheaper exact merge, and
    * an edge arriving later can merge two giant components no
    * state-local shortcut could anticipate.
    */
  def edgeBatch(batch: DataFrame, batchId: Long, aCol: String,
                bCol: String, statePath: String,
                wCol: Option[String] = None): Unit = {
    val base = batch.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    val sel = wCol match {
      case Some(w) => base.select(col(aCol).as("id_a"), col(bCol).as("id_b"),
        col(w).cast("long").as("weight"))
      case None => base.select(col(aCol).as("id_a"), col(bCol).as("id_b"))
    }
    sel.distinct().write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
  }

  /** Connected components over everything [[edgeBatch]] admitted. */
  def componentsFromState(spark: SparkSession, statePath: String,
                          iters: Int = 8): DataFrame =
    graft.graph.GraphOps.connectedComponents(
      spark.read.parquet(statePath), iters)

  /** Bounded weighted shortest paths over the admitted edges. */
  def distancesFromState(spark: SparkSession, statePath: String,
                         seeds: DataFrame, maxRounds: Int): DataFrame =
    graft.graph.GraphOps.weightedDistances(
      spark.read.parquet(statePath), seeds, maxRounds)

  /** Incremental-frontier connected components for APPEND-ONLY edge
    * streams — the true incremental upgrade of
    * [[componentsFromState]]'s honest recompute-on-read. State is the
    * LABEL TABLE (node, component = min member id); each micro-batch
    * CONTRACTS its new edges onto the current labels (endpoint → its
    * component, unseen endpoint → itself), runs min-label CC on that
    * contracted graph — sized by the batch and the components it
    * touches, never the accumulated corpus graph — and applies the
    * resulting label map with ONE component-keyed join.
    *
    * The late-bridging-edge hazard documented on
    * [[componentsFromState]] is handled BY CONSTRUCTION: an edge
    * joining two giant components contracts to one (labelA, labelB)
    * row, the tiny CC merges the two labels, and the relabel join
    * moves every member — merge cost is independent of component
    * size. Replaying a batch is a no-op by algebra (re-merging merged
    * labels maps every label to itself). `iters` is a FLOOR on the
    * per-pass CC horizon — the batch runs a fixpoint contraction loop
    * (horizon auto-scaled to log2 of the remaining contracted edges,
    * re-contract until no cross-label edge remains, fail loudly
    * otherwise), because an under-converged label write would split
    * components FOREVER: later batches only merge what new edges
    * bridge. Deletions are out of contract, exactly as for the
    * recompute-on-read twin.
    *
    * The label table is read and replaced through
    * [[graft.state.StateDirs]], so a crash mid-replace leaves the
    * pre-batch table recoverable.
    */
  def ccLabelBatch(batch: DataFrame, aCol: String, bCol: String,
                   labelPath: String, iters: Int = 8): Unit = {
    val spark = batch.sparkSession
    val edges = batch
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("id_a"), col(bCol).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
      .transform(graft.state.Checkpoints.stable)
    val labels = StateDirs.current(labelPath).fold(
      edges.select(col("id_a").as("node"), col("id_a").as("component"))
        .limit(0))(spark.read.parquet(_))
    // contract: endpoint -> current component, unseen -> itself
    val contracted = edges
      .join(labels.select(col("node").as("id_a"),
        col("component").as("__la")), Seq("id_a"), "left")
      .join(labels.select(col("node").as("id_b"),
        col("component").as("__lb")), Seq("id_b"), "left")
      .select(coalesce(col("__la"), col("id_a")).as("id_a"),
        coalesce(col("__lb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // fixpoint contraction loop: one CC pass can under-converge when
    // the contracted graph's diameter exceeds the pointer-doubling
    // horizon — an under-merged label table would SILENTLY split
    // components forever (later batches only merge what new edges
    // bridge). Each pass sizes its horizon to log2(remaining edges)
    // and re-contracts; the loop exits only when NO cross-label edge
    // remains, so the state is a true fixpoint, and it fails loudly
    // rather than write a non-fixpoint.
    var lmap: DataFrame = null // original contracted-node -> final label
    var g = contracted.transform(graft.state.Checkpoints.stable)
    var guard = 0
    while (!g.isEmpty && guard < 8) {
      val nEdges = g.count()
      // the contracted graph is BATCH-bounded, not corpus-bounded: at
      // micro-batch scale a driver-side union-find (min-label roots,
      // path compression) reaches the fixpoint in one pass for the
      // price of one collect — the distributed round loop pays a
      // full job per pointer-doubling round, which dominated q288's
      // bench cost 5× (20.8 s -> see SCALE.md). Above the cutoff the
      // distributed loop takes over; either path feeds the same
      // relabel joins, which stay fully distributed.
      val m: DataFrame =
        if (nEdges <= 1000000L) unionFindLabels(g)
        else graft.graph.GraphOps.connectedComponents(g,
          math.max(iters,
            64 - java.lang.Long.numberOfLeadingZeros(nEdges + 2) + 3))
          .select(col("node").as("__o"), col("component").as("__n"))
          .filter(col("__o") =!= col("__n"))
          .transform(graft.state.Checkpoints.stable)
      lmap =
        if (lmap == null) m
        else lmap
          .join(m.select(col("__o").as("__n2"), col("__n").as("__nn")),
            col("__n") === col("__n2"), "left")
          .select(col("__o"), coalesce(col("__nn"), col("__n")).as("__n"))
          .unionByName(m.join(lmap.select("__o"), Seq("__o"), "left_anti"))
          .transform(graft.state.Checkpoints.stable)
      g = g
        .join(m.select(col("__o").as("id_a"), col("__n").as("__na")),
          Seq("id_a"), "left")
        .join(m.select(col("__o").as("id_b"), col("__n").as("__nb")),
          Seq("id_b"), "left")
        .select(coalesce(col("__na"), col("id_a")).as("id_a"),
          coalesce(col("__nb"), col("id_b")).as("id_b"))
        .filter(col("id_a") =!= col("id_b")).distinct()
        .transform(graft.state.Checkpoints.stable)
      guard += 1
    }
    if (!g.isEmpty)
      throw new IllegalStateException(
        "ccLabelBatch: contraction did not reach a fixpoint in 8 passes")
    if (lmap == null)
      lmap = contracted.select(col("id_a").as("__o"), col("id_a").as("__n"))
        .limit(0)
    val lmapF = lmap.withColumnRenamed("__o", "__old")
      .withColumnRenamed("__n", "__new")
    val endpoints = edges.select(col("id_a").as("node"))
      .unionByName(edges.select(col("id_b").as("node"))).distinct()
    val newNodes = endpoints.join(labels.select("node"), Seq("node"),
      "left_anti")
    val updatedOld = labels
      .join(lmapF, labels("component") === lmapF("__old"), "left")
      .select(labels("node"),
        coalesce(col("__new"), labels("component")).as("component"))
    val newRows = newNodes
      .join(lmapF, newNodes("node") === lmapF("__old"), "left")
      .select(newNodes("node"),
        coalesce(col("__new"), newNodes("node")).as("component"))
    val next = updatedOld.unionByName(newRows).transform(graft.state.Checkpoints.stable)
    StateDirs.replace(labelPath)(next.write.mode("overwrite").parquet(_))
  }

  /** [[graft.pipelines.CorpusPipeline.driverUnionFind]] over a SMALL
    * (batch-bounded) edge frame, ids compared in the frame's own id
    * type: roots are the component MINIMUM, so the result is identical
    * to the distributed min-label CC fixpoint. Returns only changed
    * nodes (__o -> __n).
    */
  private def unionFindLabels(g: DataFrame): DataFrame = {
    val spark = g.sparkSession
    val idType = g.schema("id_a").dataType
    implicit val byId: Ordering[Any] = (a: Any, b: Any) =>
      a.asInstanceOf[java.lang.Comparable[Any]].compareTo(b)
    val out = graft.pipelines.CorpusPipeline
      .driverUnionFind(g.collect().map(r => (r.get(0), r.get(1))))
      .collect { case (n, root) if n != root => org.apache.spark.sql.Row(n, root) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__o", idType),
      org.apache.spark.sql.types.StructField("__n", idType)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  /** The label table [[ccLabelBatch]] maintains — already the
    * components answer, no recompute: (node, component).
    */
  def componentsFromLabels(spark: SparkSession,
                           labelPath: String): DataFrame =
    spark.read.parquet(labelPath).select("node", "component")

  /** Incremental single-source shortest paths for APPEND-ONLY weighted
    * edge streams — the distances sibling of [[ccLabelBatch]]. State
    * is the distance table (node, dist); edges still accumulate via
    * [[edgeBatch]] (`wCol` set) because an improvement introduced by a
    * NEW edge must propagate through OLD topology, so relaxation joins
    * the full admitted edge set — but only FRONTIER-sized frames drive
    * each round (new-edge improvements, then whatever they improved),
    * where recompute-on-read re-converges every seed over everything
    * from scratch. Nonnegative weights make relaxation monotone
    * (distances only decrease), which is what makes the increment
    * sound and batch replay a no-op by algebra (no improvement the
    * second time). The loop exits as soon as the frontier drains;
    * `rounds` is a safety CAP on THIS batch's improvement propagation
    * depth — the change's reach, not the graph diameter. If the
    * frontier has NOT drained at the cap the batch THROWS without
    * touching the distance state (the [[ccLabelBatch]] contract):
    * silently persisting under-converged distances would freeze
    * too-high values forever, because later batches seed frontiers
    * only from their own new edges; edge admission is
    * replay-idempotent, so the failed batch reruns with a higher cap
    * against unchanged state. With the cap
    * uncut the state equals
    * [[graft.graph.GraphOps.weightedDistances]] at convergence over
    * all admitted edges (spec-pinned across multi-batch replays).
    * Seeds are passed on every call and min-merged at dist 0
    * (idempotent); unreached nodes are absent, matching the batch
    * operator. The distance table is read and replaced through
    * [[graft.state.StateDirs]].
    */
  def spIncrementBatch(batch: DataFrame, batchId: Long, aCol: String,
                       bCol: String, wCol: String, seeds: DataFrame,
                       seedCol: String, edgePath: String, distPath: String,
                       rounds: Int = 8): Unit = {
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val spark = batch.sparkSession
    edgeBatch(batch, batchId, aCol, bCol, edgePath, wCol = Some(wCol))
    // the weightedDistances normalization, applied identically to the
    // batch's own edges and to the admitted set read back for
    // propagation: undirected, nonneg weights, min parallel edge
    def normalize(e: DataFrame): DataFrame = e
      .filter(col("id_a").isNotNull && col("id_b").isNotNull &&
        col("weight").isNotNull && col("weight") >= 0 &&
        col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"),
        col("weight").cast("long").as("w"))
      .groupBy("a", "b").agg(min("w").as("w"))
    def bothDir(e: DataFrame): DataFrame =
      e.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val newEdges = bothDir(normalize(
      batch.select(col(aCol).as("id_a"), col(bCol).as("id_b"),
        col(wCol).as("weight")))).transform(graft.state.Checkpoints.stable)
    val allEdges = bothDir(normalize(spark.read.parquet(edgePath)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seed0 = seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("dist", lit(0L))
      val prior = StateDirs.current(distPath)
        .fold(seed0.limit(0))(spark.read.parquet(_))
      var reached = prior.unionByName(seed0)
        .groupBy("node").agg(min("dist").as("dist"))
        .transform(graft.state.Checkpoints.stable)
      // frontier 0: new seeds (absent or improved vs prior) plus
      // whatever the NEW edges improve against the merged state
      val seedFront = reached.join(prior, Seq("node", "dist"), "left_anti")
      val edgeFront = reached
        .join(newEdges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
        .join(reached.withColumnRenamed("dist", "__cur"), Seq("node"), "left")
        .filter(col("__cur").isNull || col("dist") < col("__cur"))
        .select("node", "dist")
      var frontier = seedFront.unionByName(edgeFront)
        .groupBy("node").agg(min("dist").as("dist"))
        .transform(graft.state.Checkpoints.stable)
      reached = reached.unionByName(frontier)
        .groupBy("node").agg(min("dist").as("dist"))
        .transform(graft.state.Checkpoints.stable)
      // early-exit frontier loop: `rounds` is a CAP, convergence is
      // the frontier draining. The frontier stays un-checkpointed —
      // both parents are checkpointed, so its recompute is one cheap
      // join — keeping the loop at two jobs per round (merge + count)
      var r = 0
      var frontierCount = frontier.count()
      while (r < rounds && frontierCount > 0) {
        val relaxed = frontier.join(allEdges, col("node") === col("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        val next = reached.unionByName(relaxed)
          .groupBy("node").agg(min("dist").as("dist"))
          .transform(graft.state.Checkpoints.stable)
        frontier = next.join(reached, Seq("node", "dist"), "left_anti")
        reached = next
        frontierCount = frontier.count()
        r += 1
      }
      // an undrained frontier at the cap means distances that are
      // still TOO HIGH — and later batches only seed frontiers from
      // their own new edges, so the staleness would persist forever.
      // Fail loudly BEFORE touching the state (the ccLabelBatch
      // contract): the edge admission above is replay-idempotent, so
      // the caller reruns the batch with a higher cap and state picks
      // up exactly where it was.
      if (frontierCount > 0)
        throw new IllegalStateException(
          s"spIncrementBatch: frontier not drained after $rounds rounds " +
            s"($frontierCount nodes still improving); state left " +
            "untouched - rerun the batch with a higher rounds cap")
      StateDirs.replace(distPath)(reached.write.mode("overwrite").parquet(_))
    } finally allEdges.unpersist(blocking = false)
  }

  /** The distance table [[spIncrementBatch]] maintains: (node, dist). */
  def distancesFromDistState(spark: SparkSession,
                             distPath: String): DataFrame =
    spark.read.parquet(distPath).select("node", "dist")

  /** Incremental SimHash near-dup ADMISSION — the crawl-novelty
    * filter run as documents arrive: a document is NOVEL iff no
    * document with a SMALLER id (across every batch ever admitted,
    * id = global arrival order) sits within `maxHamming` of its
    * portable md5-SimHash signature. The any-earlier rule (not
    * greedy keep-first) is deliberate: it has no sequential
    * dependency, so an independent engine replays every verdict from
    * the full signature table, and a replayed batch recomputes the
    * identical verdicts against state that may already contain LATER
    * batches (the earlier-id filter ignores them) — replay is a
    * no-op by construction. Slightly more aggressive than greedy
    * keep-first on chains (B near A dropped, C near B but not A is
    * ALSO dropped here); that is the documented contract.
    *
    * Scale shape: signatures are one fused map-only expression per
    * doc; the batch probes state ∪ self through pigeonhole band keys
    * ([[graft.dedup.NearDup.hammingPairsAgainst]]) — only batch-band
    * matches shuffle, never the state; verdicts land as one
    * partition per batch (overwrite = idempotent retry).
    */
  def simhashDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                        textCol: String, statePath: String,
                        maxHamming: Int = 3): Unit = {
    val spark = batch.sparkSession
    val sigs = graft.dedup.NearDup.md5SimhashSigs(batch, idCol, textCol)
      .select(col(idCol).as("doc_id"), col("simhash"))
      .transform(graft.state.Checkpoints.stable)
    val prior =
      if (StateDirs.present(statePath))
        spark.read.parquet(statePath).select("doc_id", "simhash")
      else sigs.limit(0)
    val all = prior.unionByName(sigs).groupBy("doc_id")
      .agg(min("simhash").as("simhash")) // replay overlap collapses
    val dupIds = graft.dedup.NearDup.hammingPairsAgainst(
        sigs, all, "doc_id", "simhash", maxHamming)
      .select(col("id_probe").as("doc_id")).distinct()
      .withColumn("__dup", lit(true))
    try sigs.join(dupIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(!col("__dup"), lit(true)).as("is_novel"))
      .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
    finally graft.state.Checkpoints.release(sigs)
  }

  /** The verdict table [[simhashDedupBatch]] maintains:
    * (doc_id, is_novel) for every signature-bearing document.
    */
  def noveltyFromSimhashState(spark: SparkSession,
                              statePath: String): DataFrame =
    spark.read.parquet(statePath).select("doc_id", "is_novel")

  /** Incremental EXACT-SUBSTRING novelty admission — the streaming
    * form of the q84/q311 window-hash index (Lee et al. 2022
    * ExactSubstr as a crawl-admission gate): a document is novel iff
    * NO `windowTokens`-token window of it appears as a window of any
    * SMALLER-id document — the same order-free any-earlier rule as
    * [[simhashDedupBatch]], so verdicts replay from the signature
    * state alone, batching is invisible to the semantics, and a
    * retried batch (even after later batches landed) rewrites
    * byte-identical rows.
    *
    * Window keys are xxhash64 of the space-joined lower-cased token
    * span — bit-identical to the [[graft.pipelines.CorpusPipeline]]
    * span-hash keying, so this state interoperates with the batch
    * index family (same birthday-bound note). State stores one row
    * per DISTINCT window hash per document (`sigs/batch=N`) — O(total
    * tokens), the same asymptotics as the suffix array ExactSubstr
    * builds — plus the verdict table (`verdicts/batch=N`). Docs
    * shorter than the window carry a NULL-hash row: trivially novel,
    * but present in the verdict surface.
    *
    * Scale shape: the batch's hashes shuffle once for the
    * min-owner-per-hash aggregate over prior ∪ batch; the prior state
    * is never re-verdicted, only min-merged on the 8-byte key with
    * map-side combine.
    */
  def spanDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                     textCol: String, statePath: String,
                     windowTokens: Int = 16): Unit = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    val w = windowTokens
    val sigs = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.text.TextOps.tokens(lower(col(textCol))).as("__t"))
      .withColumn("__n", size(col("__t")))
      .select(col("doc_id"),
        when(col("__n") >= w,
          array_distinct(transform(sequence(lit(1), col("__n") - (w - 1)),
            i => xxhash64(concat_ws(" ", slice(col("__t"), i, lit(w)))))))
          .otherwise(array().cast("array<bigint>")).as("__hs"))
      .select(col("doc_id"), explode_outer(col("__hs")).as("h"))
      .transform(graft.state.Checkpoints.stable) // one deterministic frame for state + verdict
    val prior = priorSigs(sigs, statePath, "doc_id", "h")
    // directed against the state (the hammingPairsAgainst discipline):
    // only PRIOR rows whose hash the batch carries enter the shuffle —
    // the state parquet is scanned, never bulk-reshuffled, so per-batch
    // shuffle volume is O(batch tokens + matched keys), flat in corpus
    // size. Replay overlap collapses in the min() itself.
    val batchHashes = sigs.filter(col("h").isNotNull)
    val priorMatched = prior.filter(col("h").isNotNull)
      .join(batchHashes.select("h").distinct(), Seq("h"), "left_semi")
    val firstOwner = priorMatched.unionByName(batchHashes)
      .groupBy("h").agg(min("doc_id").as("__fo"))
    val minOwner = batchHashes
      .join(firstOwner, "h")
      .groupBy("doc_id").agg(min("__fo").as("__mfo"))
    val verdicts = sigs.select("doc_id").distinct()
      .join(minOwner, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("__mfo").isNull || col("__mfo") >= col("doc_id"))
          .as("is_novel"))
    writeVerdictsAndState(verdicts, sigs, statePath, batchId)
  }

  /** The verdict table [[spanDedupBatch]] maintains. */
  def noveltyFromSpanState(spark: SparkSession,
                           statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/verdicts")
      .select("doc_id", "is_novel")

  /** The prior signature state under `statePath/sigs` (the given
    * columns), or an empty frame shaped like `sigs` before the first
    * batch lands.
    */
  private def priorSigs(sigs: DataFrame, statePath: String,
                        cols: String*): DataFrame =
    if (StateDirs.present(s"$statePath/sigs"))
      sigs.sparkSession.read.parquet(s"$statePath/sigs").select(cols.map(col): _*)
    else sigs.limit(0)

  /** Land a batch's verdicts, then its signature state, then release
    * the `sigs` cut (also when a write fails). The verdict
    * frame lazily re-reads the sigs STATE, which on a replay holds
    * this batch's own earlier files, so it is written before that
    * state is overwritten. Either crash window between the two writes
    * (state missing for this batch, or verdicts missing) re-judges to
    * the same rows: an own earlier signature never lowers a min-owner
    * (the StreamingSpec crash-window cases). A retry overwrites both
    * batch dirs.
    */
  private def writeVerdictsAndState(verdicts: DataFrame, sigs: DataFrame,
                                    statePath: String, batchId: Long): Unit =
    try {
      verdicts.write.mode("overwrite").parquet(s"$statePath/verdicts/batch=$batchId")
      sigs.write.mode("overwrite").parquet(s"$statePath/sigs/batch=$batchId")
    } finally graft.state.Checkpoints.release(sigs)

  /** The one-md5-per-document gate shared by [[digestDedupBatch]] and
    * [[templateDedupBatch]]: a document is novel iff the md5 of
    * `signature` is owned by no smaller-id document.
    */
  private def md5DedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                            textCol: String, signature: Column,
                            statePath: String): Unit = {
    val sigs = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), md5(signature).as("h"))
      .transform(graft.state.Checkpoints.stable) // one frame, state + verdict
    val priorMatched = priorSigs(sigs, statePath, "doc_id", "h")
      .join(sigs.select("h").distinct(), Seq("h"), "left_semi")
    val firstOwner = priorMatched.unionByName(sigs)
      .groupBy("h").agg(min("doc_id").as("__fo"))
    val verdicts = sigs.join(firstOwner, "h")
      .select(col("doc_id"), (col("__fo") >= col("doc_id")).as("is_novel"))
    writeVerdictsAndState(verdicts, sigs, statePath, batchId)
  }

  /** Incremental EXACT-DIGEST novelty admission — the first (and
    * cheapest) gate of the incremental family, previously present
    * only in batch form (q80's normalized keep-first): a document is
    * novel iff the md5 of its
    * [[graft.text.TextOps.normalizeText]] form is owned by no
    * SMALLER-id document. Same any-earlier rule, same state layout
    * (`sigs/batch=N` one row per doc, `verdicts/batch=N`), same
    * id-ordered batch contract and directed prior-semi-join shuffle
    * discipline as [[templateDedupBatch]] — per-batch shuffle volume
    * is O(batch + matched keys), flat in corpus size.
    */
  def digestDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                       textCol: String, statePath: String): Unit =
    md5DedupBatch(batch, batchId, idCol, textCol,
      graft.text.TextOps.normalizeText(col(textCol)), statePath)

  /** The verdict table [[digestDedupBatch]] maintains. */
  def noveltyFromDigestState(spark: SparkSession,
                             statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/verdicts")
      .select("doc_id", "is_novel")

  /** Per-batch admission funnel (VERDICT r15 #6) — the ops view of
    * the whole incremental admission family: ONE row per (gate
    * family, batch) with the admit/reject counts and the truncating
    * admit ppm, aggregated straight off the families' existing
    * verdict-state tables (state rides unchanged; this is a read-only
    * rollup). Each input frame must carry `is_novel` plus the `batch`
    * partition-discovery column its state layout already provides;
    * the verdict UNIT is whatever the family judges (documents for
    * digest/MinHash/semantic/SimHash/span/template, chunks for the
    * chunk gate), so `n_total` counts that unit.
    *
    * Scale shape: a map-side-combined count per (family, batch) over
    * each verdict table — model-sized output, no joins, no windows.
    */
  def admissionFunnel(families: Seq[(String, DataFrame)]): DataFrame = {
    require(families.nonEmpty, "admissionFunnel needs at least one family")
    families.map { case (fam, v) =>
      v.select(lit(fam).as("family"),
        col("batch").cast("int").as("batch"),
        when(col("is_novel"), 1L).otherwise(0L).as("__a"))
    }.reduce(_ unionByName _)
      .groupBy("family", "batch")
      .agg(count(lit(1)).as("n_total"), sum("__a").as("n_admitted"))
      .withColumn("n_rejected", col("n_total") - col("n_admitted"))
      .withColumn("admit_ppm", expr("n_admitted * 1000000 div n_total"))
  }

  /** [[admissionFunnel]] adapter for the admitted-output families —
    * MinHash [[dedupBatch]] and [[semanticDedupBatch]] store ADMITTED
    * rows per batch rather than a verdict table, so the funnel frame
    * is rebuilt by a left join: `inputs` is one row per judged unit
    * carrying `idCol` and the `batch` it was fed in; a unit is
    * admitted iff its id appears in the family's `outPath`. (These
    * two gates' sequential admission has no closed-form replay — an
    * earlier rejection changes later verdicts — which is why they
    * ride the funnel through this engine-side adapter and their own
    * oracle-gated queries, q75/q92, rather than a funnel SQL replay.)
    */
  def funnelFromAdmitted(inputs: DataFrame, outPath: String,
                         idCol: String): DataFrame = {
    val spark = inputs.sparkSession
    val admitted = spark.read.parquet(outPath)
      .select(col(idCol)).distinct().withColumn("__adm", lit(true))
    inputs.select(col(idCol), col("batch"))
      .join(admitted, Seq(idCol), "left")
      .select(col("batch"), coalesce(col("__adm"), lit(false))
        .as("is_novel"))
  }

  /** Incremental TEMPLATE novelty admission — the crawl-gate form of
    * the q331 layout-cluster audit, completing the incremental
    * admission family (exact digest → MinHash → semantic → SimHash →
    * span → TEMPLATE): a document is novel iff its
    * [[graft.text.TextOps.layoutShape]] md5 digest is owned by no
    * SMALLER-id document — the order-free any-earlier rule shared by
    * the whole family, so verdicts replay from the signature state
    * alone and batching is invisible to the semantics. Batch contract
    * (the SHARED family convention, matching the q339 driver's id-cut
    * batching; ADVICE r14): batches must arrive in non-decreasing
    * doc_id order — under that ordering a retried batch (even after
    * later batches landed) rewrites byte-identical rows, because no
    * later batch can introduce a smaller-id owner of a digest this
    * batch already judged. An out-of-order feed keeps the FINAL state
    * correct (min() is order-free) but a replayed early batch would
    * re-judge against owners it hadn't seen, flipping verdict rows vs
    * the original run. This is the gate that refuses the ten-thousandth
    * boilerplate-varied mirror of a template the word-level digests
    * admit as "new".
    *
    * State is ONE row per document (doc_id, template md5) — strictly
    * smaller than the document table. Per batch: the batch's digests
    * shuffle once for the min-owner aggregate over (matched prior ∪
    * batch); the prior state is scanned and semi-join-filtered on the
    * batch's digests ([[spanDedupBatch]]'s directed discipline),
    * never bulk-reshuffled — per-batch shuffle volume is O(batch +
    * matched keys), flat in corpus size.
    */
  def templateDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                         textCol: String, statePath: String): Unit =
    md5DedupBatch(batch, batchId, idCol, textCol,
      graft.text.TextOps.layoutShape(col(textCol)), statePath)

  /** The verdict table [[templateDedupBatch]] maintains. */
  def noveltyFromTemplateState(spark: SparkSession,
                               statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/verdicts")
      .select("doc_id", "is_novel")

  /** Incremental CHUNK-provenance admission — the crawl-gate form of
    * the q334 RAG chunk-dedup audit, completing the incremental
    * family for the retrieval surface (VERDICT r14 #7): a batch CHUNK
    * is novel iff no lexicographically smaller (doc_id, chunk_id)
    * pair owns its text digest — the any-earlier rule on the pair
    * key, so verdicts replay from the signature state alone and a
    * gated index never serves the ten-thousandth copy of the same
    * boilerplate passage. Unlike the span gate the admission unit is
    * the chunk, not the document: the verdict table carries one row
    * per (doc_id, chunk_id).
    *
    * Batch contract (the shared family convention; ADVICE r14):
    * batches arrive in non-decreasing doc_id order — under that
    * ordering a retried batch rewrites byte-identical rows, because
    * no later batch can introduce a smaller-pair owner of a digest
    * this batch already judged.
    *
    * Scale shape ([[spanDedupBatch]]'s directed discipline): state is
    * one 16-byte digest row per chunk; per batch, only PRIOR rows
    * whose digest the batch carries enter the shuffle (the state
    * parquet is scanned and semi-join-filtered, never
    * bulk-reshuffled) — per-batch shuffle volume is O(batch chunks +
    * matched keys), flat in corpus size.
    */
  def chunkDedupBatch(batch: DataFrame, batchId: Long, idCol: String,
                      textCol: String, statePath: String,
                      chunkTokens: Int, overlap: Int = 0): Unit = {
    val sigs = graft.pipelines.CorpusPipeline
      .chunkDocuments(batch.filter(col(textCol).isNotNull),
        idCol, textCol, chunkTokens, overlap)
      .select(col(idCol).as("doc_id"), col("chunk_id"),
        md5(col("chunk_text")).as("h"))
      .transform(graft.state.Checkpoints.stable) // one frame, state + verdict
    val priorMatched = priorSigs(sigs, statePath, "doc_id", "chunk_id", "h")
      .join(sigs.select("h").distinct(), Seq("h"), "left_semi")
    // min over the PAIR key: struct ordering is (doc_id, chunk_id)
    // lexicographic — the q334 keeper rule
    val firstOwner = priorMatched.unionByName(sigs)
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__fo"))
    val verdicts = sigs.join(firstOwner, "h")
      .select(col("doc_id"), col("chunk_id"),
        (col("__fo") >= struct(col("doc_id"), col("chunk_id")))
          .as("is_novel"))
    writeVerdictsAndState(verdicts, sigs, statePath, batchId)
  }

  /** The verdict table [[chunkDedupBatch]] maintains: one row per
    * (doc_id, chunk_id).
    */
  def noveltyFromChunkState(spark: SparkSession,
                            statePath: String): DataFrame =
    spark.read.parquet(s"$statePath/verdicts")
      .select("doc_id", "chunk_id", "is_novel")

  /** Incremental sibling of
    * [[graft.operators.AnalyticsOps.itemSimilarity]]: feedback
    * micro-batches append their deduped (user, item) incidence as
    * one state partition each ([[dauBatch]]'s contract — a retried
    * batch overwrites itself, replay is a no-op by set algebra), and
    * the model rebuilds on read from the UNION incidence — the
    * cross-batch distinct inside itemSimilarity means two batches
    * both observing a (user, item) cannot inflate a cosine.
    */
  def cfBatch(batch: DataFrame, batchId: Long, userCol: String,
              itemCol: String, statePath: String): Unit =
    batch.filter(col(userCol).isNotNull && col(itemCol).isNotNull)
      .select(col(userCol).as("user_id"), col(itemCol).as("item"))
      .distinct()
      .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")

  /** Item–item similarity over everything [[cfBatch]] admitted. */
  def cfFromState(spark: SparkSession, statePath: String,
                  k: Int = 5, maxBasket: Int = 100): DataFrame =
    graft.operators.AnalyticsOps.itemSimilarity(
      spark.read.parquet(statePath), "user_id", "item", k, maxBasket)

  /** One micro-batch of streaming HLL register maintenance — the
    * incremental twin of [[graft.operators.SketchOps.hllRollup]]:
    * the batch collapses to its (group, bucket, max-rho) registers
    * and lands in its own `statePath/batch=<id>` partition
    * (idempotent: a retry overwrites exactly its own partition, and
    * register MAX-merge makes double-processing harmless by algebra,
    * not just by bookkeeping). Estimates come from
    * [[hllEstimateFromState]], which max-merges all partitions at
    * read; `compactState` can fold old partitions without changing
    * any answer — the mergeability contract, incrementally.
    */
  def hllBatch(batch: DataFrame, batchId: Long, groupCol: String,
               valueCol: String, statePath: String): Unit = {
    val regs = graft.operators.SketchOps.hllRegisters(
      batch.select(col(groupCol).as("__g"), col(valueCol)),
      Seq(col("__g")), valueCol)
    regs.write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
  }

  /** The distinct-count estimate over everything [[hllBatch]] has
    * admitted so far: max-merge the stored registers, then the q206
    * estimator. Reads register rows only — never the raw values.
    */
  def hllEstimateFromState(spark: SparkSession, statePath: String): DataFrame = {
    val regs = spark.read.parquet(statePath)
      .groupBy("__g", "__bkt").agg(max("__M").as("__M"))
    graft.operators.SketchOps.hllEstimate(regs, Seq("__g"))
      .select(col("__g").as("group"), col("__nb").as("n_buckets_hit"),
        col("est_distinct"))
  }

  /** State COMPACTION for the incremental admission paths: drop the
    * state rows of documents that were later REMOVED by curation, so a
    * near-dup of a removed document is once again admissible and the
    * state store stops growing monotonically. Works on both stores —
    * the MinHash signature state ([[dedupBatch]]'s `sigPath`) and the
    * int8 semantic code state ([[semanticDedupBatch]]'s `statePath`)
    * — because both are parquet directories keyed by `idCol` with a
    * `batch=<id>` partition layout, which compaction PRESERVES (the
    * retry-exclusion filter in both batch runners keys on that
    * column).
    *
    * Admission is a pure function of the stored state (the q75/q92
    * audits), so after compaction the system behaves exactly as if
    * the removed documents had never been admitted — the
    * StreamingSpec cross-check. Months of daily increments then hold
    * state proportional to the LIVE corpus, not the all-time admitted
    * set.
    *
    * The state is read and replaced through [[graft.state.StateDirs]],
    * so it stays readable throughout and a crash mid-replace leaves the
    * pre-compaction state recoverable. After the
    * swap each surviving `batch=<id>` partition gets its `_SUCCESS`
    * marker re-created so the batch runners' committed-batch check
    * still holds for already-processed batch ids. No-op (state left
    * byte-identical) when the store does not exist yet.
    */
  def compactState(spark: SparkSession, statePath: String,
                   removedIds: DataFrame, idCol: String): Unit = {
    val base = StateDirs.current(statePath) match {
      case Some(p) => spark.read.parquet(p)
      case None    => return // no store yet: nothing to compact
    }
    val kept = base.join(removedIds.select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")
    val partitioned = base.columns.contains("batch")
    val w = kept.write.mode("overwrite")
    StateDirs.replace(statePath)(
      (if (partitioned) w.partitionBy("batch") else w).parquet(_))
    if (partitioned) {
      val fs = StateDirs.fsFor(statePath)
      // partitionBy leaves one top-level _SUCCESS; the batch runners
      // check per-partition markers, so restore them for the batches
      // that still hold rows
      fs.listStatus(new HPath(statePath)).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith("batch="))
        .foreach(s => fs.create(new HPath(s.getPath, "_SUCCESS"), true).close())
    }
  }
}
