package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** The crash window of a rotated state's replace: the current copy
    * was renamed to `.old`, and the new copy, partly written to
    * `.next`, was never promoted.
    */
  private def crashMidReplace(path: String): Unit = {
    val cur = java.nio.file.Paths.get(path)
    val old = java.nio.file.Paths.get(path + ".old")
    TempTrees.deleteQuietly(old)
    java.nio.file.Files.move(cur, old)
    val next = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path + ".next"))
    java.nio.file.Files.write(next.resolve("part-00000-torn.parquet"),
      "torn".getBytes)
    assert(!java.nio.file.Files.exists(cur))
  }

  /** Runs one call that returns no frame (an admission gate, a batch
    * that replaces its state) and asserts it left no persisted RDD
    * behind: such a call owns every cut it makes. Returns the body's
    * result (e.g. an intercepted exception).
    */
  private def assertNoCutLeft[T](body: => T): T = {
    val before = persistedIds()
    val out = body
    assert(persistedSince(before).isEmpty, "the call left a cut persisted")
    out
  }

  /** The two crash windows of a verdict-state family's per-batch
    * writes: after batch `b` landed, lose its `sigs/batch=b` (a crash
    * between the verdict write and the state write), re-run it; then
    * lose its `verdicts/batch=b` instead (a crash after the state
    * write), re-run it. Each time the verdicts and the state must
    * equal the clean run's, row for row.
    */
  private def assertCrashWindowsHeal(dir: String, b: Long)(
      rerun: => Unit): Unit = {
    def rows(sub: String) = spark.read.parquet(s"$dir/$sub")
      .collect().map(_.toString).sorted.toSeq
    val clean = (rows("verdicts"), rows("sigs"))
    for (lost <- Seq("sigs", "verdicts")) {
      TempTrees.deleteQuietly(java.nio.file.Paths.get(s"$dir/$lost/batch=$b"))
      rerun
      assert((rows("verdicts"), rows("sigs")) === clean,
        s"re-run of batch $b after losing $lost/batch=$b")
    }
  }

  test("windowedCounts: streaming tumbling-window agg over events parquet (memory sink)") {
    // file-stream sources need a directory: stage the events parquet
    val dir = tempDir("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf("sf0.001") + "/events.parquet"),
      dir.resolve("part-0.parquet"))
    // read the ON-DISK schema (ts as stored: nanos-long or NTZ —
    // Tables.events sets the nanos conf as a side effect), stream with
    // it, then apply the same ts normalization the batch loader uses
    Tables.events(spark, sf("sf0.001"))
    val rawSchema = spark.read.parquet(dir.toString).schema
    val stream = Tables.normalizeTs(
      spark.readStream.schema(rawSchema).parquet(dir.toString))
    val agg = StreamingOps.windowedCounts(stream, "ts", "event_type", "value",
      windowLen = "1 hour", watermark = "2 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("win_out")
    val batch = Tables.events(spark, sf("sf0.001"))
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(out.count() === batch.count(), "streaming windows == batch hourly groups")
    val totalStream = out.agg(sum("n")).head().getLong(0)
    assert(totalStream === Tables.events(spark, sf("sf0.001")).count())
  }

  test("sessionize: gap-based sessions (flatMapGroupsWithState)") {
    def ev(u: Long, t: Long, tp: String = "click") =
      Event(u, new java.sql.Timestamp(t), tp)
    val events = Seq(
      ev(1, 0L), ev(1, 60000L), ev(1, 120000L),       // session A: 3 events
      ev(1, 10000000L), ev(1, 10060000L),             // session B: 2 events
      ev(2, 500L)                                     // session C: 1 event
    ).toDS()
    val sessions = StreamingOps.sessionize(events, gapMs = 30 * 60 * 1000)
      .collect().sortBy(s => (s.user_id, s.session_start.getTime))
    assert(sessions.length === 3)
    assert(sessions(0).n_events === 3 && sessions(0).user_id === 1L)
    assert(sessions(1).n_events === 2)
    assert(sessions(2).n_events === 1 && sessions(2).user_id === 2L)
  }

  test("sessionizeStreaming: open session held in state, flushed once by event-time timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val in = MemoryStream[Event]
    val q = StreamingOps.sessionizeStreaming(in.toDS(), gapMs = 60000L, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try {
      // start above t=0: the initial watermark is 0 and stateful ops drop
      // rows at-or-below it
      in.addData(Event(1, t(10000), "click"), Event(1, t(30000), "click"))
      q.processAllAvailable()
      assert(spark.table("sess_stream").count() === 0,
        "in-progress session must NOT be emitted while the watermark can still admit events")
      // unrelated user far in the future advances the watermark past
      // lastSeen + gap; the next batch fires user 1's timeout
      in.addData(Event(2, t(1000000L), "click"))
      q.processAllAvailable()
      in.addData(Event(2, t(2000000L), "click"))
      q.processAllAvailable()
      val u1 = spark.table("sess_stream").as[StreamingOps.Session]
        .collect().filter(_.user_id == 1L)
      assert(u1.length === 1, "timed-out session emitted exactly once")
      assert(u1.head.n_events === 2 && u1.head.session_end.getTime === 30000L)
    } finally q.stop()
  }

  test("sessionizeStreaming ≡ sessionizeBucketed: the streaming and " +
    "batch-bucketed forms produce the same session set on a fixture " +
    "spanning micro-batches, bucket boundaries, and both gap shapes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    // user 1: events straddling a 1-hour bucket boundary with gaps
    // below AND above 10 min; user 2: one lone event; user 3: steady
    // drip that never gaps (one long session across three buckets)
    val evs = Seq(
      Event(1, t(100), "a"), Event(1, t(400), "b"),          // s1
      Event(1, t(3500), "c"), Event(1, t(3700), "a"),        // s2 (straddles 3600)
      Event(1, t(8000), "b"),                                // s3
      Event(2, t(500), "a"),                                 // lone
      Event(3, t(3000), "a"), Event(3, t(3550), "b"),
      Event(3, t(4100), "c"), Event(3, t(4650), "a"))        // one session
    val in = MemoryStream[Event]
    val q = StreamingOps.sessionizeStreaming(in.toDS(), gapMs = 600000L,
      watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sess_twin").outputMode("append").start()
    try {
      // deliver in three event-time-ordered micro-batches, then a
      // far-future event to advance the watermark past every timeout
      val sorted = evs.sortBy(_.ts.getTime)
      sorted.grouped(4).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      in.addData(Event(99, t(10000000), "x")); q.processAllAvailable()
      in.addData(Event(99, t(20000000), "x")); q.processAllAvailable()
      val stream = spark.table("sess_twin").as[StreamingOps.Session].collect()
        .filter(_.user_id != 99L)
        .map(s => (s.user_id, s.session_start.getTime * 1000L,
          s.session_end.getTime * 1000L, s.n_events.toLong)).toSet
      // batch rows: (user, session_seq, n_events, first_ts_us, last_ts_us)
      val batchSet = graft.operators.AnalyticsOps.sessionizeBucketed(
        evs.toDF("user_id", "ts", "event_type")
          .withColumn("event_id", col("ts").cast("long")),
        gapSecs = 600L, bucketSecs = 3600L, userCol = "user_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(2))).toSet
      assert(stream === batchSet,
        s"stream $stream\nbatch $batchSet")
      assert(stream.count(_._1 == 1L) === 3, "user 1 has three sessions")
    } finally q.stop()
  }

  test("transitionsStreaming ≡ transitionCounts: the per-user transition " +
    "rows aggregated over micro-batches match the batch matrix, and a " +
    "strictly-late straggler is dropped, never emitted backward") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val evs = Seq(
      Event(1, t(100), "a"), Event(1, t(200), "b"), Event(1, t(3900), "a"),
      Event(1, t(4000), "c"),                       // crosses hour bucket
      Event(2, t(150), "b"), Event(2, t(250), "b"), // self-transition
      Event(3, t(500), "c"))                        // lone: no transitions
    val in = MemoryStream[Event]
    val q = StreamingOps.transitionsStreaming(in.toDS(), "0 seconds")
      .writeStream.format("memory").queryName("trans_twin").outputMode("append").start()
    try {
      val sorted = evs.sortBy(_.ts.getTime)
      sorted.grouped(3).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      // straggler BEFORE user 1's consumed history: must vanish
      in.addData(Event(1, t(50), "z")); q.processAllAvailable()
      val stream = spark.table("trans_twin")
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n_transitions"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.operators.AnalyticsOps.transitionCounts(
        evs.toDF("user_id", "ts", "event_type")
          .withColumn("event_id", col("ts").cast("long")),
        userCol = "user_id", bucketSecs = 3600L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(stream === batch, s"stream $stream\nbatch $batch")
      assert(!stream.exists(e => e._1 == "z" || e._2 == "z"),
        "dropped straggler must not fabricate transitions")
    } finally q.stop()
  }

  test("funnelStreaming ≡ batch funnel: per-step user counts match over " +
    "an in-order multi-batch replay, with and without a conversion " +
    "window; a straggler older than a set completion is dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val steps = Seq("view", "click", "purchase")
    val evs = Seq(
      // user 1 completes all three
      Event(1, t(100), "view"), Event(1, t(200), "click"),
      Event(1, t(300), "purchase"),
      // user 2: click BEFORE view never counts; completes two steps
      Event(2, t(90), "click"), Event(2, t(150), "view"),
      Event(2, t(260), "click"),
      // user 3: view only, plus an off-funnel type
      Event(3, t(500), "view"), Event(3, t(600), "other"),
      // user 4: same-instant click can't be strictly after its view
      Event(4, t(700), "view"), Event(4, t(700), "click"))
    for (gap <- Seq(None, Some(100L))) {
      val name = s"funnel_twin_${gap.getOrElse(0L)}"
      val in = MemoryStream[Event]
      val q = StreamingOps.funnelStreaming(in.toDS(), steps, "0 seconds", gap)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        evs.sortBy(_.ts.getTime).grouped(3)
          .foreach { b => in.addData(b: _*); q.processAllAvailable() }
        // straggler: user 1 "view" at t=50 — earlier than the consumed
        // completion; must be dropped, not re-open the funnel
        in.addData(Event(1, t(50), "view")); q.processAllAvailable()
        val stream = spark.table(name)
          .groupBy("step_idx", "step").agg(count(lit(1)).as("n_users"))
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
        val batch = graft.operators.AnalyticsOps.funnel(
          evs.toDF("user_id", "ts", "event_type"), steps, maxGapSecs = gap)
          .filter(col("n_users") > 0)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
        assert(stream === batch, s"gap=$gap\nstream $stream\nbatch $batch")
      } finally q.stop()
    }
  }

  test("streamingDedup drops watermark-window duplicates") {
    val dir = tempDir("sdedup").toFile
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    Seq((1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:00:30"),
      (2L, "2024-01-01 00:01:00"), (2L, "2024-01-01 00:01:10"),
      (3L, "2024-01-01 00:02:00"))
      .toDF("id", "ts_s")
      .selectExpr("id", "cast(ts_s as timestamp) as ts")
      .write.json(dir.getPath + "/in")
    val stream = spark.readStream.schema(schema).json(dir.getPath + "/in")
    val deduped = StreamingOps.streamingDedup(stream, Seq("id"), "ts", "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("sdedup_out").select("id").distinct().count() === 3)
    assert(spark.table("sdedup_out").count() === 3, "one row per key within watermark")
  }

  test("streamStreamJoin: watermarked interval join matches batch equivalent") {
    val dir = tempDir("ssjoin").toFile
    val reqSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lts", org.apache.spark.sql.types.TimestampType)))
    val ackSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("r_k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rts", org.apache.spark.sql.types.TimestampType)))
    Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 01:00:00"))
      .toDF("k", "ts_s").selectExpr("k", "cast(ts_s as timestamp) as lts")
      .write.json(dir.getPath + "/req")
    Seq((1L, "2024-01-01 00:03:00"), (2L, "2024-01-01 03:00:00"))
      .toDF("r_k", "ts_s").selectExpr("r_k", "cast(ts_s as timestamp) as rts")
      .write.json(dir.getPath + "/ack")
    val l = spark.readStream.schema(reqSchema).json(dir.getPath + "/req")
    val r = spark.readStream.schema(ackSchema).json(dir.getPath + "/ack")
    val joined = StreamingOps.streamStreamJoin(l, r, "k", "lts", "rts",
      watermark = "1 hour", within = "10 MINUTES")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("ssjoin_out").select("k").as[Long].collect().toSeq
    assert(out === Seq(1L), "only the within-10-minutes pair joins")
  }

  test("foreachBatchMerge: streaming upsert into a parquet master") {
    val dir = tempDir("stream_merge").toFile
    val src = new java.io.File(dir, "in"); src.mkdirs()
    val master = new java.io.File(dir, "master").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath

    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").json(src.getPath + "/batch1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).json(src.getPath + "/*")
    val q = StreamingOps.foreachBatchMerge(stream, master, Seq("id"), ckpt).start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(master).count() === 2)

    // second drop updates id=2, adds id=3; new query instance resumes
    // from the checkpoint and only processes the new file
    Seq((2L, "B2"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").json(src.getPath + "/batch2")
    val stream2 = spark.readStream.schema(schema).json(src.getPath + "/*")
    val q2 = StreamingOps.foreachBatchMerge(stream2, master, Seq("id"), ckpt).start()
    q2.awaitTermination(60000)
    val rows = spark.read.parquet(master).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(rows === Seq((1L, "a"), (2L, "B2"), (3L, "c")))
  }

  test("foreachBatchMerge: a crash between the rotation renames (master " +
    "moved to .old, .next not promoted) does not lose history on retry") {
    val dir = tempDir("stream_merge_crash").toFile
    val src = new java.io.File(dir, "in"); src.mkdirs()
    val master = new java.io.File(dir, "master").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))

    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").json(src.getPath + "/batch1")
    val q = StreamingOps.foreachBatchMerge(
      spark.readStream.schema(schema).json(src.getPath + "/*"),
      master, Seq("id"), ckpt).start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(master).count() === 2)

    // simulate the crash window: the master was renamed to .old but the
    // merged .next never got promoted — no master dir exists at all
    val fs = new org.apache.hadoop.fs.Path(master)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(master),
      new org.apache.hadoop.fs.Path(master + ".old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(master)))

    // the "retried" batch must merge against .old, not an empty base
    Seq((2L, "B2"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").json(src.getPath + "/batch2")
    val q2 = StreamingOps.foreachBatchMerge(
      spark.readStream.schema(schema).json(src.getPath + "/*"),
      master, Seq("id"), ckpt).start()
    q2.awaitTermination(60000)
    val rows = spark.read.parquet(master).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(rows === Seq((1L, "a"), (2L, "B2"), (3L, "c")),
      "id=1 from the pre-crash master must survive via the .old fallback")
  }

  test("streaming feed ingestion: chargepoint transform chain runs " +
    "unchanged on a file stream, merged into the sessions master") {
    val dir = tempDir("stream_feed").toFile
    val src = new java.io.File(dir, "in"); src.mkdirs()
    val master = new java.io.File(dir, "master").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath

    val lines = Seq(
      """{"sessionId": 555, "stationName": "S1", "portNumber": 2,
        |"postalCode": 15222, "Energy": "6.25", "recordNumber": 1,
        |"startTime": "2023-05-01 10:00:00", "endTime": "2023-05-01T11:30:00"}"""
        .stripMargin.replace("\n", " "))
    java.nio.file.Files.write(
      new java.io.File(src, "b1.json").toPath,
      lines.mkString("\n").getBytes)

    val schema = spark.read.json(lines.toDS()).schema
    val stream = spark.readStream.schema(schema).json(src.getPath)
    // the batch transform is pure projections, so it applies to the
    // streaming frame verbatim — the point of the expressions-first rule
    val transformed = graft.pipelines.FeedPipelines.chargepoint(stream)
    val q = StreamingOps.foreachBatchMerge(
      transformed, master, Seq("session_id"), ckpt).start()
    q.awaitTermination(60000)

    val got = spark.read.parquet(master)
      .select("session_id", "zip", "energy_kwh", "start_time_UNIX")
      .as[(String, String, Double, Long)].collect().toSeq
    assert(got === Seq(("555", "15222", 6.25, 1682935200L)))
  }

  test("incrementalDedupStream: later micro-batches are deduped against " +
    "all earlier admissions via the signature state") {
    val dir = tempDir("stream_dedup").toFile
    val src = new java.io.File(dir, "in"); src.mkdirs()
    val sigP = new java.io.File(dir, "sigs").getPath
    val outP = new java.io.File(dir, "out").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    Seq((1L, base), (2L, "wholly different first era document with unique words"))
      .toDF("doc_id", "text").write.mode("overwrite").json(src.getPath + "/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).json(src.getPath + "/*")
      val q = StreamingOps.incrementalDedupStream(
        stream, "doc_id", "text", sigP, outP, ckpt, threshold = 0.7).start()
      q.awaitTermination(60000)
    }
    run()
    assert(spark.read.parquet(outP).count() === 2)

    // second drop: a near-dup of batch-1 doc 1, and a novel doc
    Seq((10L, base + " lambda"), (11L, "entirely novel second era content right here"))
      .toDF("doc_id", "text").write.mode("overwrite").json(src.getPath + "/b2")
    run()
    val ids = spark.read.parquet(outP).select("doc_id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 11L), s"near-dup 10 must be rejected, got $ids")
    assert(spark.read.parquet(sigP).count() === 3)
  }

  test("compactState: admit → curate-drop → compact → re-admit behaves " +
    "identically to never-admitted, for BOTH the MinHash signature " +
    "state and the int8 semantic state; surviving batch partitions " +
    "keep their _SUCCESS markers") {
    val dir = tempDir("compact").toFile
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val other = "wholly different document about relational database engines"

    // ---- MinHash path ----
    val sigP = new java.io.File(dir, "sigs").getPath
    val outP = new java.io.File(dir, "out").getPath
    StreamingOps.dedupBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"),
      batchId = 0L, "doc_id", "text", sigP, outP, threshold = 0.7)
    assert(spark.read.parquet(sigP).count() === 2)
    // without compaction, a near-dup of doc 2 is rejected
    StreamingOps.dedupBatch(
      Seq((10L, other + " extra")).toDF("doc_id", "text"),
      batchId = 1L, "doc_id", "text", sigP, outP, threshold = 0.7)
    assert(!spark.read.parquet(outP).select("doc_id").as[Long]
      .collect().contains(10L), "pre-compaction near-dup must be rejected")
    // curation drops doc 2 → compact → the same near-dup is admissible
    StreamingOps.compactState(spark, sigP,
      Seq(2L).toDF("doc_id"), "doc_id")
    val sigsAfter = spark.read.parquet(sigP)
    assert(sigsAfter.select("doc_id").as[Long].collect().toSet === Set(1L),
      "doc 2's signature retired (doc 10 was never admitted, holds no state)")
    assert(new java.io.File(sigP, "batch=0/_SUCCESS").exists(),
      "surviving batch partition must keep its committed marker")
    StreamingOps.dedupBatch(
      Seq((11L, other + " extra")).toDF("doc_id", "text"),
      batchId = 2L, "doc_id", "text", sigP, outP, threshold = 0.7)
    assert(spark.read.parquet(outP).select("doc_id").as[Long]
      .collect().contains(11L),
      "post-compaction the dropped doc's near-dup admits — as if never admitted")

    // ---- semantic path ----
    def vec(x: Double, y: Double) = Array.tabulate(8)(i =>
      if (i == 0) x.toFloat else if (i == 1) y.toFloat else 0.0f)
    val stP = new java.io.File(dir, "sem_state").getPath
    val soP = new java.io.File(dir, "sem_out").getPath
    StreamingOps.semanticDedupBatch(
      Seq((1L, vec(1.0, 0.0)), (2L, vec(0.0, 1.0))).toDF("doc_id", "vec"),
      batchId = 0L, "doc_id", "vec", stP, soP, threshold = 0.9)
    StreamingOps.semanticDedupBatch(
      Seq((10L, vec(0.01, 1.0))).toDF("doc_id", "vec"),
      batchId = 1L, "doc_id", "vec", stP, soP, threshold = 0.9)
    assert(!spark.read.parquet(soP).select("doc_id").as[Long]
      .collect().contains(10L), "cosine near-dup of doc 2 must be rejected")
    // the compaction is a retry after a crash mid-replace: it must
    // compact the .old copy, not treat the state as absent
    crashMidReplace(stP)
    StreamingOps.compactState(spark, stP, Seq(2L).toDF("doc_id"), "doc_id")
    assert(spark.read.parquet(stP).select("doc_id").as[Long].collect().toSet
      === Set(1L), "doc 1's state must survive the crash via .old")
    assert(new java.io.File(stP, "batch=0/_SUCCESS").exists())
    StreamingOps.semanticDedupBatch(
      Seq((11L, vec(0.01, 1.0))).toDF("doc_id", "vec"),
      batchId = 2L, "doc_id", "vec", stP, soP, threshold = 0.9)
    assert(spark.read.parquet(soP).select("doc_id").as[Long]
      .collect().contains(11L),
      "post-compaction the semantic near-dup admits — as if never admitted")
  }

  test("dedupBatch: a retried batch id is idempotent, and a half-committed " +
    "retry does not self-reject against its own partial signatures") {
    val dir = tempDir("dedup_batch").toFile
    val sigP = new java.io.File(dir, "sigs").getPath
    val outP = new java.io.File(dir, "out").getPath
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    val b0 = Seq((1L, base), (2L, "wholly different first era document with unique words"))
      .toDF("doc_id", "text")
    StreamingOps.dedupBatch(b0, 0L, "doc_id", "text", sigP, outP, 0.7)
    // full retry of a committed batch (e.g. checkpoint lost the commit):
    // skipped outright — no duplicate admissions, no duplicate signatures
    StreamingOps.dedupBatch(b0, 0L, "doc_id", "text", sigP, outP, 0.7)
    assert(spark.read.parquet(outP).count() === 2)
    assert(spark.read.parquet(sigP).count() === 2)

    // half-committed batch 1: signatures persisted, output write lost.
    // The retry must NOT treat its own batch=1 signatures as corpus
    // state (doc 10 would reject itself); it must re-decide and admit.
    val b1 = Seq((10L, "entirely novel second era content right here"))
      .toDF("doc_id", "text")
    val (_, sigs1, release1) = graft.dedup.NearDup.incrementalDedup(
      spark.read.parquet(sigP).drop("batch"), b1, "doc_id", "text", threshold = 0.7)
    try sigs1.write.mode("overwrite").parquet(sigP + "/batch=1") finally release1()
    StreamingOps.dedupBatch(b1, 1L, "doc_id", "text", sigP, outP, 0.7)
    val ids = spark.read.parquet(outP).select("doc_id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 10L), s"half-committed retry must admit doc 10, got $ids")
    assert(spark.read.parquet(sigP).count() === 3)
  }

  test("incrementalSemanticDedupStream: later micro-batches are cosine-deduped " +
    "against all earlier admissions via the int8 state") {
    val dir = tempDir("stream_semdedup").toFile
    val src = new java.io.File(dir, "in"); src.mkdirs()
    val stP  = new java.io.File(dir, "state").getPath
    val outP = new java.io.File(dir, "out").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath

    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").json(src.getPath + "/b1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).json(src.getPath + "/*")
      val q = StreamingOps.incrementalSemanticDedupStream(
        stream, "vec_id", "embedding", stP, outP, ckpt, threshold = 0.85).start()
      q.awaitTermination(60000)
    }
    run()
    assert(spark.read.parquet(outP).count() === 2)

    // second drop: a cosine near-dup of batch-1 vec 1 (cos ~0.995),
    // and a novel direction (max cos vs state ~0.71 < 0.85)
    Seq((10L, Array(0.995f, 0.1f)), (11L, Array(-0.7f, 0.7f)))
      .toDF("vec_id", "embedding").write.mode("overwrite").json(src.getPath + "/b2")
    run()
    val ids = spark.read.parquet(outP).select("vec_id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 11L), s"cosine near-dup 10 must be rejected, got $ids")
    assert(spark.read.parquet(stP).count() === 3)
    // the persisted state is the quantized representation, not fp32
    assert(spark.read.parquet(stP).columns.toSet === Set("vec_id", "scale", "qvec", "batch"))
  }

  test("semanticDedupBatch: a retried batch id is idempotent, and a " +
    "half-committed retry does not self-reject against its own partial state") {
    val dir = tempDir("sem_dedup_batch").toFile
    val stP  = new java.io.File(dir, "state").getPath
    val outP = new java.io.File(dir, "out").getPath

    val b0 = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    StreamingOps.semanticDedupBatch(b0, 0L, "vec_id", "embedding", stP, outP, 0.85)
    // full retry of a committed batch: skipped outright
    StreamingOps.semanticDedupBatch(b0, 0L, "vec_id", "embedding", stP, outP, 0.85)
    assert(spark.read.parquet(outP).count() === 2)
    assert(spark.read.parquet(stP).count() === 2)

    // half-committed batch 1: state persisted, output write lost. The
    // retry must NOT treat its own batch=1 state as corpus (vec 10
    // would cosine-reject itself); it must re-decide and admit.
    val b1 = Seq((10L, Array(-0.7f, 0.7f))).toDF("vec_id", "embedding")
    val (_, state1, release1) = graft.pipelines.CorpusPipeline.incrementalSemanticDedup(
      spark.read.parquet(stP).drop("batch"), b1, "vec_id", "embedding", 0.85)
    try state1.write.mode("overwrite").parquet(stP + "/batch=1") finally release1()
    StreamingOps.semanticDedupBatch(b1, 1L, "vec_id", "embedding", stP, outP, 0.85)
    val ids = spark.read.parquet(outP).select("vec_id").as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 10L), s"half-committed retry must admit vec 10, got $ids")
    assert(spark.read.parquet(stP).count() === 3)
  }

  test("dedupBatch / semanticDedupBatch: one small micro-batch against a " +
    "two-batch state runs in at most 20 Spark jobs per call") {
    val dir = tempDir("admission_jobs").toFile
    val sigP = new java.io.File(dir, "sigs").getPath
    val docP = new java.io.File(dir, "docs").getPath
    val stP  = new java.io.File(dir, "state").getPath
    val vecP = new java.io.File(dir, "vecs").getPath
    val words = (0 until 400).map(i => s"w$i")
    val rnd = new scala.util.Random(7)
    // 12 docs and vectors per batch; each later batch repeats two of
    // the previous batch's rows verbatim and carries one in-batch copy
    var prevDocs = Seq.empty[String]
    var prevVecs = Seq.empty[Array[Float]]
    val batches = (0 until 3).map { b =>
      val fresh = (0 until 9).map(_ => Seq.fill(12)(words(rnd.nextInt(words.size))).mkString(" "))
      val docs = prevDocs.take(2) ++ fresh ++ fresh.take(1)
      val vfresh = (0 until 9).map(_ => Array.fill(8)(rnd.nextGaussian().toFloat))
      val vecs = prevVecs.take(2) ++ vfresh ++ vfresh.take(1)
      prevDocs = fresh; prevVecs = vfresh
      val ids = docs.indices.map(i => b * 100L + i)
      (ids.zip(docs).toDF("doc_id", "text"), ids.zip(vecs).toDF("vec_id", "embedding"))
    }
    val key = "graft.spec.call"
    def jobsOf(body: => Unit): Int = {
      val sc = spark.sparkContext
      val tag = s"admission-${System.nanoTime}"
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty(key) == tag)) n.incrementAndGet()
      }
      org.apache.spark.SpecSparkInternals.drainListenerBus(sc)
      sc.addSparkListener(l)
      sc.setLocalProperty(key, tag)
      try body
      finally {
        sc.setLocalProperty(key, null)
        org.apache.spark.SpecSparkInternals.drainListenerBus(sc)
        sc.removeSparkListener(l)
      }
      n.get
    }
    val counts = batches.zipWithIndex.map { case ((docs, vecs), b) =>
      (jobsOf(StreamingOps.dedupBatch(docs, b.toLong, "doc_id", "text", sigP, docP, 0.7)),
        jobsOf(StreamingOps.semanticDedupBatch(vecs, b.toLong, "vec_id", "embedding",
          stP, vecP, 0.9)))
    }
    // the repeats are rejected: the measured batch did real admission work
    val admitted = spark.read.parquet(docP).filter(col("batch") === 2)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted === (202L to 210L).toSet, s"got $admitted")
    val admittedVecs = spark.read.parquet(vecP).filter(col("batch") === 2)
      .select("vec_id").as[Long].collect().toSet
    assert(admittedVecs === (202L to 210L).toSet, s"got $admittedVecs")
    info(s"jobs per (dedupBatch, semanticDedupBatch) call, batches 0-2: $counts")
    // one corpus pass, no pair cut and no broadcast of the rejected
    // ids: 8 jobs per call, tighter than the name's 20
    val (minhashJobs, semanticJobs) = counts.last
    assert(minhashJobs <= 8, s"dedupBatch ran $minhashJobs jobs (all calls: $counts)")
    assert(semanticJobs <= 8, s"semanticDedupBatch ran $semanticJobs jobs (all calls: $counts)")
  }

  test("dedupBatch / semanticDedupBatch: the state schema each read declares " +
    "is the schema of the batch=<id> state partition each write leaves") {
    val dir = tempDir("state_schema").toFile
    def path(n: String) = new java.io.File(dir, n).getPath
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, "too short"))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1.0f, 0.5f)), (2L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    StreamingOps.dedupBatch(docs, 0L, "doc_id", "text", path("sigs"), path("docs"), 0.7)
    StreamingOps.semanticDedupBatch(vecs, 0L, "vec_id", "embedding",
      path("state"), path("vecs"), 0.9)
    // names and types: a file read makes every field nullable anyway
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.filter(_.name != "batch").map(f => f.name -> f.dataType.catalogString)
    assert(fields(spark.read.parquet(path("sigs")).schema) ===
      fields(StreamingOps.emptySignatureState(docs, "doc_id", "text").schema))
    assert(fields(spark.read.parquet(path("state")).schema) ===
      fields(StreamingOps.emptyQuantizedState(vecs, "vec_id", "embedding").schema))
  }

  test("cusumStreaming ≡ the fixed-mean CUSUM recurrence: day-close " +
    "emission, skipped days contribute genuine zeros, integer alarm " +
    "test, stragglers for closed days dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps.Event
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def at(day: Long, s: Long) = new java.sql.Timestamp(day * 86400000L + s * 1000L)
    // daily counts [10, 10, 0, 0, 3] for type "a"; days 2-3 have no
    // events at all — the day-4 arrival must close them as zeros
    val evs =
      (1 to 10).map(i => Event(i.toLong, at(0, i.toLong), "a")) ++
      (1 to 10).map(i => Event(i.toLong, at(1, i.toLong), "a")) ++
      (1 to 3).map(i => Event(i.toLong, at(4, i.toLong), "a"))
    val in = MemoryStream[Event]
    val q = graft.streaming.StreamingOps.cusumStreaming(
      in.toDS(), muNum = 5L, muDen = 1L, alarmMult = 1L,
      watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("cusum_twin")
      .outputMode("append").start()
    try {
      evs.grouped(7).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      // straggler for the long-closed day 1: must change nothing
      in.addData(Event(99L, at(1, 99), "a")); q.processAllAvailable()
      val got = spark.table("cusum_twin")
        .collect().map(r => (r.getDate(1).toString,
          r.getLong(2), r.getDouble(3), r.getBoolean(4))).sortBy(_._1)
      // fixed-mu recurrence over the closed days [10, 10, 0, 0]
      val s = Seq(10L, 10L, 0L, 0L).scanLeft(0L)((acc, n) =>
        math.max(0L, acc + n - 5L)).tail
      assert(got.map(_._2).toSeq === Seq(10L, 10L, 0L, 0L))
      assert(got.map(_._3).toSeq === s.map(_.toDouble))
      assert(got.map(_._4).toSeq === s.map(_ > 5L)) // S > alarmMult*mu
      assert(got.map(_._1).toSeq ===
        Seq("1970-01-01", "1970-01-02", "1970-01-03", "1970-01-04"))
    } finally q.stop()
  }

  test("hllBatch/hllEstimateFromState: incremental registers match the " +
    "batch sketch exactly, and a retried batch changes nothing") {
    import spark.implicits._
    val dir = tempDir("hll_state").toString
    // three overlapping batches covering val0..val899
    val batches = Seq(0 to 399, 200 to 599, 400 to 899)
      .map(r => r.map(i => ("g", s"val$i")).toDF("g", "v"))
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamingOps.hllBatch(b, i.toLong, "g", "v", dir)
    }
    val streamed = graft.streaming.StreamingOps
      .hllEstimateFromState(spark, dir).collect()(0)
    val direct = graft.operators.SketchOps.hllDistinct(
      (0 to 899).map(i => ("g", s"val$i")).toDF("g", "v"), "g", "v")
      .collect()(0)
    assert(streamed.getAs[Double]("est_distinct") ===
      direct.getAs[Double]("est_distinct"))
    assert(streamed.getAs[Long]("n_buckets_hit") ===
      direct.getAs[Long]("n_buckets_hit"))
    // retry of batch 1: MAX-merge makes replay a no-op by algebra
    graft.streaming.StreamingOps.hllBatch(batches(1), 1L, "g", "v", dir)
    val retried = graft.streaming.StreamingOps
      .hllEstimateFromState(spark, dir).collect()(0)
    assert(retried.getAs[Double]("est_distinct") ===
      direct.getAs[Double]("est_distinct"))
  }

  test("edgeBatch/componentsFromState/distancesFromState: a late edge " +
    "merges two components exactly as the batch operators see it, " +
    "and a retried batch changes nothing") {
    import spark.implicits._
    val dir = tempDir("graph_state").toString
    // batch 0: two separate components {1,2} and {3,4}
    graft.streaming.StreamingOps.edgeBatch(
      Seq((1L, 2L, 5L), (3L, 4L, 1L)).toDF("a", "b", "w"), 0L,
      "a", "b", dir, wCol = Some("w"))
    val cc0 = graft.streaming.StreamingOps
      .componentsFromState(spark, dir, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc0 === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // batch 1: the bridging edge 2-3 merges everything
    graft.streaming.StreamingOps.edgeBatch(
      Seq((2L, 3L, 2L)).toDF("a", "b", "w"), 1L, "a", "b", dir,
      wCol = Some("w"))
    def cc() = graft.streaming.StreamingOps
      .componentsFromState(spark, dir, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc() === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    val d = graft.streaming.StreamingOps.distancesFromState(
      spark, dir, Seq(1L).toDF("node"), maxRounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 5L, 3L -> 7L, 4L -> 8L))
    // retry batch 1: identical state by set algebra
    graft.streaming.StreamingOps.edgeBatch(
      Seq((2L, 3L, 2L)).toDF("a", "b", "w"), 1L, "a", "b", dir,
      wCol = Some("w"))
    assert(cc() === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("ccLabelBatch/componentsFromLabels: incremental-frontier labels " +
    "≡ batch recompute across multi-batch replays, a late bridging " +
    "edge merges whole components via the contracted graph, replay " +
    "is a no-op, and a smaller-id newcomer re-mins its component") {
    import spark.implicits._
    val dir = tempDir("cc_labels")
      .toString + "/labels"
    def labels() = graft.streaming.StreamingOps
      .componentsFromLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = Seq((10L, 20L), (30L, 40L)).toDF("a", "b")
    val b1 = Seq((40L, 50L), (60L, 70L)).toDF("a", "b")
    // late bridge joins the {10,20} and {30,40,50} giants; newcomer 5
    // undercuts every existing id, so the merged component re-mins
    val b2 = Seq((20L, 30L), (5L, 60L)).toDF("a", "b")
    graft.streaming.StreamingOps.ccLabelBatch(b0, "a", "b", dir)
    assert(labels() === Map(10L -> 10L, 20L -> 10L, 30L -> 30L,
      40L -> 30L))
    assertNoCutLeft(graft.streaming.StreamingOps.ccLabelBatch(b1, "a", "b", dir))
    assert(labels() === Map(10L -> 10L, 20L -> 10L, 30L -> 30L,
      40L -> 30L, 50L -> 30L, 60L -> 60L, 70L -> 60L))
    // batch 2 is a retry after a crash mid-replace of the label table:
    // it must merge against the .old copy, so no label is lost
    crashMidReplace(dir)
    graft.streaming.StreamingOps.ccLabelBatch(b2, "a", "b", dir)
    val expected = graft.graph.GraphOps.connectedComponents(
      b0.unionByName(b1).unionByName(b2)
        .select(col("a").as("id_a"), col("b").as("id_b")), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() === expected)
    assert(labels()(70L) === 5L, "newcomer 5 must re-min 60-70's label")
    // replay the bridging batch: merged labels re-merge to themselves
    graft.streaming.StreamingOps.ccLabelBatch(b2, "a", "b", dir)
    assert(labels() === expected)
  }

  test("spIncrementBatch/distancesFromDistState: improvements from a " +
    "late shortcut edge propagate through OLD topology, state ≡ batch " +
    "recompute at convergence, replay is a no-op") {
    import spark.implicits._
    val root = tempDir("sp_state").toString
    val (ep, dp) = (s"$root/edges", s"$root/dists")
    val seeds = Seq(1L).toDF("node")
    def dists() = graft.streaming.StreamingOps
      .distancesFromDistState(spark, dp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch 0: chain 1-2-3-4-5 with weight 10 per hop
    val b0 = Seq((1L, 2L, 10L), (2L, 3L, 10L), (3L, 4L, 10L),
      (4L, 5L, 10L)).toDF("a", "b", "w")
    graft.streaming.StreamingOps.spIncrementBatch(b0, 0L, "a", "b", "w",
      seeds, "node", ep, dp, rounds = 6)
    assert(dists() === Map(1L -> 0L, 2L -> 10L, 3L -> 20L, 4L -> 30L,
      5L -> 40L))
    // batch 1: shortcut 1-4 weight 5 — improves 4 via the NEW edge,
    // then 5 (and a fresh tail 5-6-7) THROUGH OLD/state topology
    val b1 = Seq((1L, 4L, 5L), (5L, 6L, 1L), (6L, 7L, 1L))
      .toDF("a", "b", "w")
    // batch 1 is a retry after a crash mid-replace of the distance
    // table: it must relax against the .old copy, so no distance is lost
    crashMidReplace(dp)
    assertNoCutLeft(graft.streaming.StreamingOps.spIncrementBatch(b1, 1L, "a", "b", "w",
      seeds, "node", ep, dp, rounds = 6))
    val expected = graft.graph.GraphOps.weightedDistances(
      b0.unionByName(b1).select(col("a").as("id_a"), col("b").as("id_b"),
        col("w").as("weight")),
      seeds, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dists() === expected)
    assert(dists()(4L) === 5L && dists()(5L) === 15L && dists()(7L) === 17L,
      "shortcut must re-route 4 and propagate to the old 5 and new tail")
    // replay batch 1: monotone relaxation finds nothing to improve
    graft.streaming.StreamingOps.spIncrementBatch(b1, 1L, "a", "b", "w",
      seeds, "node", ep, dp, rounds = 6)
    assert(dists() === expected)
  }

  test("spIncrementBatch: an undrained frontier at the rounds cap " +
    "throws and leaves the distance state untouched") {
    import spark.implicits._
    val root = tempDir("sp_throw").toString
    val (ep, dp) = (s"$root/edges", s"$root/dists")
    val seeds = Seq(1L).toDF("node")
    def dists() = graft.streaming.StreamingOps
      .distancesFromDistState(spark, dp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = Seq((1L, 2L, 10L), (2L, 3L, 10L)).toDF("a", "b", "w")
    graft.streaming.StreamingOps.spIncrementBatch(b0, 0L, "a", "b", "w",
      seeds, "node", ep, dp, rounds = 6)
    val before = dists()
    assert(before === Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
    // batch 1 appends a 4-hop tail but caps propagation at 1 round:
    // the frontier cannot drain, so the batch must FAIL LOUDLY
    // instead of freezing too-high distances into the state
    val b1 = Seq((3L, 4L, 1L), (4L, 5L, 1L), (5L, 6L, 1L), (6L, 7L, 1L))
      .toDF("a", "b", "w")
    val ex = assertNoCutLeft(intercept[IllegalStateException] {
      graft.streaming.StreamingOps.spIncrementBatch(b1, 1L, "a", "b", "w",
        seeds, "node", ep, dp, rounds = 1)
    })
    assert(ex.getMessage.contains("frontier not drained"))
    assert(dists() === before, "failed batch must not touch state")
    // rerun with an adequate cap: edge admission was idempotent, the
    // state converges to the full recompute
    graft.streaming.StreamingOps.spIncrementBatch(b1, 1L, "a", "b", "w",
      seeds, "node", ep, dp, rounds = 8)
    val expected = graft.graph.GraphOps.weightedDistances(
      b0.unionByName(b1).select(col("a").as("id_a"), col("b").as("id_b"),
        col("w").as("weight")),
      seeds, maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dists() === expected)
  }

  test("simhashDedupBatch: incremental verdicts equal the global " +
    "any-earlier rule, replay (even after later batches) is a no-op") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different words entirely here"),
      (3L, "alpha beta gamma delta epsilon"), // dup of 1
      (4L, "alpha beta gamma delta epsilon"), // dup of 1/3
      (5L, "another unique document body text"))
      .toDF("doc_id", "text")
    val dir = tempDir("shdedup").toString + "/state"
    def verdicts() = graft.streaming.StreamingOps
      .noveltyFromSimhashState(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def run(b: Long, ids: Long*) =
      graft.streaming.StreamingOps.simhashDedupBatch(
        docs.filter(col("doc_id").isin(ids: _*)), b, "doc_id", "text",
        dir, maxHamming = 3)
    run(0L, 1L, 2L)
    run(1L, 3L, 5L)
    assertNoCutLeft(run(2L, 4L))
    val expected = Map(1L -> true, 2L -> true, 3L -> false,
      4L -> false, 5L -> true)
    assert(verdicts() === expected)
    // cross-check against the batch pair surface's any-earlier rule
    val dupByPairs = graft.dedup.NearDup.md5SimhashPairs(
        docs, "doc_id", "text", maxHamming = 3)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    assert(expected.filterNot(_._2).keySet === dupByPairs)
    // replay batch 1 AFTER batch 2 landed: the earlier-id filter
    // ignores the later state rows, verdicts are unchanged
    run(1L, 3L, 5L)
    assert(verdicts() === expected)
  }

  test("spanDedupBatch: incremental verdicts equal the global " +
    "any-earlier window rule, short docs are trivially novel, replay " +
    "after later batches is a no-op") {
    import spark.implicits._
    val block = (1 to 16).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, block + " tail1 tail2"),              // owns the 16-window
      (2L, "totally different words " + (1 to 16).map(i => s"u$i").mkString(" ")),
      (3L, "prefix " + block),                   // shares doc 1's window
      (4L, "short doc under sixteen tokens"),    // no window: novel
      (5L, block))                               // shares doc 1's window
      .toDF("doc_id", "text")
    val dir = tempDir("spandedup").toString + "/state"
    def verdicts() = graft.streaming.StreamingOps
      .noveltyFromSpanState(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def run(b: Long, ids: Long*) =
      graft.streaming.StreamingOps.spanDedupBatch(
        docs.filter(col("doc_id").isin(ids: _*)), b, "doc_id", "text",
        dir, windowTokens = 16)
    run(0L, 1L, 2L)
    run(1L, 3L, 4L)
    assertNoCutLeft(run(2L, 5L))
    val expected = Map(1L -> true, 2L -> true, 3L -> false,
      4L -> true, 5L -> false)
    assert(verdicts() === expected)
    // batch-INTERNAL earlier doc also counts: rerun from scratch with
    // 1 and 3 in the same batch — 3 must still be a dup
    val dir2 = tempDir("spandedup2").toString + "/state"
    graft.streaming.StreamingOps.spanDedupBatch(
      docs.filter(col("doc_id").isin(1L, 3L)), 0L, "doc_id", "text",
      dir2, windowTokens = 16)
    val v2 = graft.streaming.StreamingOps.noveltyFromSpanState(spark, dir2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v2 === Map(1L -> true, 3L -> false))
    // replay batch 1 AFTER batch 2 landed: verdicts unchanged
    run(1L, 3L, 4L)
    assert(verdicts() === expected)
    assertCrashWindowsHeal(dir, 1L)(run(1L, 3L, 4L))
  }

  test("templateDedupBatch: incremental verdicts equal the global " +
    "any-earlier layout rule — word-disjoint template mirrors are " +
    "dups, a new layout is novel, replay after later batches is a " +
    "no-op") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Price: 42 USD"),        // owns the "Xx: 9 X" layout
      (2L, "hello world"),          // owns "x x"
      (3L, "Total: 7 EUR"),         // doc 1's layout, every word new
      (4L, "a1b2 unique layout"),   // novel shape
      (5L, "greeting planet"))      // doc 2's layout
      .toDF("doc_id", "text")
    val dir = tempDir("tpldedup").toString + "/state"
    def verdicts() = graft.streaming.StreamingOps
      .noveltyFromTemplateState(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def run(b: Long, ids: Long*) =
      graft.streaming.StreamingOps.templateDedupBatch(
        docs.filter(col("doc_id").isin(ids: _*)), b, "doc_id", "text",
        dir)
    run(0L, 1L, 2L)
    run(1L, 3L, 4L)
    assertNoCutLeft(run(2L, 5L))
    val expected = Map(1L -> true, 2L -> true, 3L -> false,
      4L -> true, 5L -> false)
    assert(verdicts() === expected)
    // batch-INTERNAL earlier doc also counts
    val dir2 = tempDir("tpldedup2").toString + "/state"
    graft.streaming.StreamingOps.templateDedupBatch(
      docs.filter(col("doc_id").isin(1L, 3L)), 0L, "doc_id", "text",
      dir2)
    val v2 = graft.streaming.StreamingOps
      .noveltyFromTemplateState(spark, dir2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v2 === Map(1L -> true, 3L -> false))
    // replay batch 1 AFTER batch 2 landed: verdicts unchanged
    run(1L, 3L, 4L)
    assert(verdicts() === expected)
    assertCrashWindowsHeal(dir, 1L)(run(1L, 3L, 4L))
  }

  test("digestDedupBatch + admissionFunnel: one funnel row per " +
    "(family, batch) off the verdict states; replaying an earlier " +
    "batch after later ones landed leaves every funnel row unchanged") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "ALPHA beta GAMMA!"),     // digest-dup of 1 (normalized)
      (3L, "totally different words"),
      (4L, "alpha beta gamma"),      // digest-dup of 1
      (5L, "yet another novel doc"))
      .toDF("doc_id", "text")
    val root = tempDir("funnel").toString
    def run(b: Long, ids: Long*): Unit = {
      val batch = docs.filter(col("doc_id").isin(ids: _*))
      graft.streaming.StreamingOps.digestDedupBatch(
        batch, b, "doc_id", "text", root + "/digest")
      graft.streaming.StreamingOps.templateDedupBatch(
        batch, b, "doc_id", "text", root + "/template")
    }
    run(0L, 1L, 2L, 3L)
    run(1L, 4L, 5L)
    def funnel() = graft.streaming.StreamingOps.admissionFunnel(Seq(
        "digest" -> spark.read.parquet(root + "/digest/verdicts"),
        "template" -> spark.read.parquet(root + "/template/verdicts")))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val f1 = funnel()
    // digest: batch 0 admits 1,3 rejects 2; batch 1 admits 5 rejects 4
    assert(f1(("digest", 0)) === ((3L, 2L, 1L, 666666L)))
    assert(f1(("digest", 1)) === ((2L, 1L, 1L, 500000L)))
    // template family present with its own independent verdicts
    assert(f1.keySet === Set(("digest", 0), ("digest", 1),
      ("template", 0), ("template", 1)))
    // replay idempotence: re-run batch 0 AFTER batch 1 landed
    run(0L, 1L, 2L, 3L)
    assert(funnel() === f1)
    assertCrashWindowsHeal(root + "/digest", 0L)(
      graft.streaming.StreamingOps.digestDedupBatch(
        docs.filter(col("doc_id").isin(1L, 2L, 3L)), 0L, "doc_id", "text",
        root + "/digest"))
  }

  test("funnelFromAdmitted: the MinHash admitted-output state rides " +
    "the funnel through the adapter — rejected batch rows read " +
    "is_novel = false") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated text with entirely distinct words here"))
      .toDF("doc_id", "text")
    val root = tempDir("funneladm").toString
    graft.streaming.StreamingOps.dedupBatch(
      docs.filter(col("doc_id") === 1L), 0L, "doc_id", "text",
      root + "/sigs", root + "/out", threshold = 0.7)
    graft.streaming.StreamingOps.dedupBatch(
      docs.filter(col("doc_id") > 1L), 1L, "doc_id", "text",
      root + "/sigs", root + "/out", threshold = 0.7)
    val inputs = Seq((1L, 0), (2L, 1), (3L, 1)).toDF("doc_id", "batch")
    val rows = graft.streaming.StreamingOps.admissionFunnel(Seq(
        "minhash" -> graft.streaming.StreamingOps.funnelFromAdmitted(
          inputs, root + "/out", "doc_id")))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // batch 0: doc 1 admitted; batch 1: doc 2 is a near-dup of the
    // admitted doc 1 (rejected), doc 3 is novel (admitted)
    assert(rows(("minhash", 0)) === ((1L, 1L, 0L)))
    assert(rows(("minhash", 1)) === ((2L, 1L, 1L)))
  }

  test("chunkDedupBatch: incremental verdicts equal the global " +
    "smaller-(doc, chunk)-pair rule — cross-doc and within-doc chunk " +
    "repeats are dups, batch-internal earlier chunks count, replay " +
    "after later batches is a no-op") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),        // chunks (1,0)=[a b c d] (1,1)=[e f g h]
      (2L, "x y z w a b c d"),        // (2,1) repeats (1,0)'s text
      (3L, "e f g h"),                // (3,0) repeats (1,1)
      (4L, "fresh words only here"),  // novel
      (5L, "p q r s p q r s"))        // within-doc repeat: (5,1) = (5,0)
      .toDF("doc_id", "text")
    val dir = tempDir("chunkdedup").toString + "/state"
    def verdicts() = graft.streaming.StreamingOps
      .noveltyFromChunkState(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    def run(b: Long, ids: Long*) =
      graft.streaming.StreamingOps.chunkDedupBatch(
        docs.filter(col("doc_id").isin(ids: _*)), b, "doc_id", "text",
        dir, chunkTokens = 4, overlap = 0)
    run(0L, 1L, 2L)
    run(1L, 3L, 4L)
    assertNoCutLeft(run(2L, 5L))
    val expected = Map(
      (1L, 0L) -> true, (1L, 1L) -> true,
      (2L, 0L) -> true, (2L, 1L) -> false, // batch-internal earlier pair
      (3L, 0L) -> false,
      (4L, 0L) -> true,
      (5L, 0L) -> true, (5L, 1L) -> false) // same doc, smaller chunk wins
    assert(verdicts() === expected)
    // replay batch 1 AFTER batch 2 landed: verdicts unchanged
    run(1L, 3L, 4L)
    assert(verdicts() === expected)
    assertCrashWindowsHeal(dir, 1L)(run(1L, 3L, 4L))
  }

  test("q309 decontaminated split: eval never quarantined, every " +
    "quarantined doc has a split-crossing near-dup partner, pairless " +
    "train docs stay train") {
    import spark.implicits._
    val out = SparkEntry.queries("q309_decontaminated_split")(
      spark, sf("sf0.001"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty)
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .filter(col("text").isNotNull)
    val sigs = graft.dedup.NearDup.md5SimhashSigs(docs, "doc_id", "text")
    val pairs = graft.dedup.NearDup.hammingPairs64(
        sigs, "doc_id", "simhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    // structural invariants of the assignment
    out.foreach { case (id, split) =>
      if (split == "quarantined") {
        assert(pairs.exists { case (a, b) =>
          (a == id && out(b) == "eval") || (b == id && out(a) == "eval")
        }, s"quarantined $id has no eval near-dup partner")
      }
      if (!paired.contains(id))
        assert(split != "quarantined",
          s"pairless doc $id must keep its hash split")
    }
    assert(out.values.toSet.subsetOf(Set("train", "eval", "quarantined")))
    assert(out.values.count(_ == "eval") > 0)
  }

  test("cfBatch/cfFromState: the incremental item-similarity model " +
    "equals the batch model row-for-row, cross-batch duplicate " +
    "feedback does not inflate cosines, retry is a no-op") {
    import spark.implicits._
    val all = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L)).toDF("user_id", "item")
    // (1,1) and (2,2) repeat across batches — the set-algebra hazard
    val batches = Seq(
      Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)).toDF("user_id", "item"),
      Seq((1L, 1L), (2L, 2L), (1L, 3L), (3L, 1L), (3L, 3L))
        .toDF("user_id", "item"))
    val dir = tempDir("cf_state").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamingOps.cfBatch(b, i.toLong, "user_id", "item", dir)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getAs[Double]("cosine"))).toMap
    val direct = rows(graft.operators.AnalyticsOps.itemSimilarity(
      all, "user_id", "item", k = 3, maxBasket = 10))
    assert(rows(graft.streaming.StreamingOps.cfFromState(spark, dir,
      k = 3, maxBasket = 10)) === direct)
    graft.streaming.StreamingOps.cfBatch(batches(1), 1L, "user_id",
      "item", dir)
    assert(rows(graft.streaming.StreamingOps.cfFromState(spark, dir,
      k = 3, maxBasket = 10)) === direct)
  }

  test("dauBatch/dauFromState: incremental sliding DAU equals the " +
    "batch operator row-for-row, cross-batch returnees are not " +
    "double-counted, and a retried batch changes nothing") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Int) = Timestamp.valueOf(f"2024-01-$day%02d 09:00:00")
    val all = Seq((1L, t(1)), (1L, t(1)), (2L, t(1)), (1L, t(3)), (3L, t(8)))
      .toDF("user_id", "ts")
    // split so user 1's Jan-1 activity appears in BOTH batches
    val batches = Seq(
      Seq((1L, t(1)), (2L, t(1))).toDF("user_id", "ts"),
      Seq((1L, t(1)), (1L, t(3)), (3L, t(8))).toDF("user_id", "ts"))
    val dir = tempDir("dau_state").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamingOps.dauBatch(b, i.toLong, "user_id", "ts", dir)
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    val direct = rows(graft.operators.AnalyticsOps.slidingDau(all))
    assert(rows(graft.streaming.StreamingOps.dauFromState(spark, dir))
      === direct)
    // retry batch 1: partition overwrite + set algebra = no-op
    graft.streaming.StreamingOps.dauBatch(batches(1), 1L, "user_id", "ts", dir)
    assert(rows(graft.streaming.StreamingOps.dauFromState(spark, dir))
      === direct)
  }
}
