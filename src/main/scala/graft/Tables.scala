package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). All engine code is path-parameterised so the same
  * query runs at any scale factor.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Opt-in scan fan-out for under-parallelized CPU-heavy map work
    * (optimization guide §2.5 "input skew: one huge unsplittable file —
    * repartition immediately after the read").
    *
    * The driver testdata ships each table as ONE parquet file with ONE
    * row group; parquet cannot be split below row-group granularity,
    * so every scan is a single task, and every map-side computation
    * Catalyst fuses onto the scan (tokenize/normalize regexes, n-gram
    * explodes, md5 replicate draws, shingle hashing) runs on one of
    * the session's cores while the rest idle — the round-16 stage
    * profiles show exactly that (q188: ONE 5.5 s single-task stage of
    * pure CPU; fan-out takes the query 6.2 s → 1.5 s).
    *
    * Deliberately OPT-IN at the operator sites whose downstream is a
    * one-pass CPU-heavy pipeline, not a blanket rewrite in `load`: the
    * round-16 A/B showed a blanket scan fan-out REGRESSES iterative
    * many-stage operators on KB-scale frames (BPE merge loop, CV
    * folds: 4.8 s → 10.7 s on q157) — their per-stage scheduling
    * overhead multiplies by the partition count while each task does
    * microseconds of work.
    *
    * Scale-adaptive, not a local[32] constant: the rewrite fires only
    * when the frame's ACTUAL scan parallelism is below the session's
    * `defaultParallelism` (which itself follows the core count,
    * including the driver's lower-CPU bench runs). A production-sized
    * table is already scanned in many splits, so this is the identity
    * there — round-robin shuffling terabytes would be the §2.4
    * "accidental repartition" anti-pattern. Catalyst pushes filters
    * and prunes columns THROUGH a Repartition node, so
    * PushedFilters/ReadSchema at the parquet scan are unchanged.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // plan-shape gate (ADVICE r16): `df.rdd` is only a cheap planning
    // call for SHUFFLE-FREE frames — under AQE, Dataset.rdd on a frame
    // containing an exchange materializes all upstream query stages
    // (runs real jobs) at "planning" time, and that work repeats when
    // the query executes. Bypass (identity) on any shape beyond
    // scan + narrow ops, so the helper is safe to apply anywhere.
    if (!shuffleFree(df.queryExecution.logical)) return df
    val target = spark.sparkContext.defaultParallelism
    // getNumPartitions plans (but never runs) the frame — cheap for the
    // gate-admitted scan-plus-projection frames
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Conservative allowlist of logical nodes that plan WITHOUT an
    * exchange: relation leaves plus narrow per-row ops. Anything else
    * (joins, aggregates, windows, sorts, repartitions, unions of
    * mismatched widths, ...) returns false and [[fanOut]] bypasses.
    */
  private def shuffleFree(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case _: LeafNode => true
      case p @ (_: Project | _: Filter | _: Generate | _: SubqueryAlias |
                _: Sample | _: LocalLimit) =>
        p.children.forall(shuffleFree)
      case _ => false
    }
  }

  /** Keyed repartition PINNED at the session's shuffle width.
    *
    * An unpinned `df.repartition(col(k))` is an AQE-coalescible
    * exchange: on a KB-scale frame AQE folds it to ONE post-shuffle
    * partition (advisory-size logic), and every CPU-heavy projection
    * planned above it — MinHash permutations, hyperplane band dot
    * products — then runs on a single core (round-16 stage profiles:
    * q51's 576-dot-product band map as one 1.8 s single-task stage).
    * Pinning the partition count makes the exchange non-coalescible so
    * the expansion keeps the session's full width (the precedent is
    * itemSimilarityImpl's pinned incidence exchange, VERDICT r13).
    *
    * Width = `spark.sql.shuffle.partitions` — the session's own
    * scale knob (the bench contract sets it to the core count; a
    * cluster deployment sizes it to the cluster), never a literal.
    * Row-to-partition assignment is hash-on-key either way, so results
    * are partitioning-independent exactly as before.
    */
  def pinnedRepartition(df: DataFrame,
                        cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, cols: _*)

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  /** The events table's `ts` physical type has varied across driver
    * testdata generations — parquet TIMESTAMP(NANOS) (unreadable by
    * Spark's vectorized reader: loaded as nano-count long via the
    * legacy conf), TIMESTAMP(MICROS) without UTC adjustment (loaded as
    * TIMESTAMP_NTZ), or a plain instant. Normalize all three to a
    * microsecond TimestampType column so every downstream query and
    * spec sees one shape; the session timezone is UTC everywhere
    * (Bench/Verify/specs), so the NTZ wall clock and the instant agree.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(load(s, d, "events"))
  }

  /** Normalize an events frame's `ts` to TimestampType regardless of
    * which physical form it was read in. Works on batch and streaming
    * frames alike (schema-only dispatch, no action). Every branch is
    * SESSION-TIMEZONE-INDEPENDENT: the NTZ wall clock is pinned to UTC
    * via pure NTZ wall-clock arithmetic — micros between the NTZ epoch
    * literal and the value, re-materialized with `timestamp_micros` —
    * which never consults the session zone. The earlier
    * `to_utc_timestamp(ts, 'UTC')` form did NOT do this: NTZ input is
    * first implicitly cast to TimestampType IN THE SESSION ZONE (the
    * function's inputTypes are TimestampType-only) and
    * `to_utc_timestamp(x, 'UTC')` is then an identity on the instant,
    * so a session at Asia/Tokyo silently shifted every instant by 9 h
    * (verified empirically; TimeOpsSpec pins the fix under a non-UTC
    * session zone). The nanos-long branch is epoch-based to begin with.
    */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      // integer `div` keeps full 64-bit precision (a double division
      // would round at the 2^53 mantissa limit for nano-scale epochs)
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", expr(
        "timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts))"))
      case _                => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
