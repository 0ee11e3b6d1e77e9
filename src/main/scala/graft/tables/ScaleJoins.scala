package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join-shape utilities for the 100 TB paths (SCALE.md): the
  * bucketed-master merge pattern. (Skew salting lives in
  * `operators.SkewOps.saltedJoin` — an earlier variant here salted on
  * `monotonically_increasing_id()`, which is not stable across task
  * retries; the consolidated form hashes row content instead and
  * validates the join type.)
  */
object ScaleJoins {

  /** Merge an incoming batch into a BUCKETED master table: when the
    * master was written with `Sinks.writeBucketedMaster` (bucketed +
    * sorted by the merge key), the sort-merge join reads the master
    * with NO exchange and NO sort on its side — only the (small)
    * incoming batch shuffles. This is the steady-state shape for the
    * reference's hourly `incoming_* → all_*` merges.
    *
    * Writes the merged snapshot back bucketed, to a new table name
    * (Spark cannot overwrite the table being read); callers alternate
    * A/B table names between runs.
    */
  def mergeIntoBucketedMaster(
      spark: org.apache.spark.sql.SparkSession,
      masterTable: String, outTable: String,
      incoming: DataFrame, key: String, buckets: Int = 64): Unit = {
    val master = spark.table(masterTable)
    val merged = MasterTables.deleteOldInsertNew(master, incoming, Seq(key))
    graft.sources.Sinks.writeBucketedMaster(merged, outTable, key, buckets)
  }

  /** Bloom-pruned equi-join — explicit semi-join reduction for the
    * shape where the BUILD side is too large (or too dynamic) to
    * broadcast as rows yet far smaller than the PROBE side: a Bloom
    * filter over the build keys (megabytes per 10⁸ keys at 1% fpp)
    * broadcasts instead, and the probe side drops non-matching rows
    * in a MAP-ONLY filter BEFORE its shuffle — at 100 TB the win is
    * the difference between shuffling the whole fact table and
    * shuffling only the rows that can join. Catalyst's runtime bloom
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) covers the
    * scan-predicate case adaptively; this operator makes the
    * reduction explicit, deterministic, and available when the build
    * side is a computed frame the optimizer cannot see through.
    *
    * Contract: the result is EXACTLY `probe ⋈ build` — a Bloom filter
    * has no false negatives, and false positives (at most `fpp`) only
    * ride the shuffle to be discarded by the exact join. NULL probe
    * keys drop at the filter, which an inner join discards anyway.
    * Integral and string keys supported (the two
    * `BloomFilter.mightContain*` fast paths).
    *
    * Returns the lazy joined frame plus a release handle that
    * destroys the broadcast bit array once the output is materialized
    * — the [[graft.pipelines.CorpusPipeline.decontaminateBloom]]
    * idiom; loop callers MUST release.
    */
  def bloomPrunedJoin(probe: DataFrame, probeKey: String,
                      build: DataFrame, buildKey: String,
                      fpp: Double = 0.01): (DataFrame, () => Unit) = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val overlap = probe.columns.toSet.intersect(build.columns.toSet)
    require(overlap.isEmpty,
      s"probe and build column names must be disjoint, both have: $overlap")
    import org.apache.spark.sql.types._
    val keyType = build.schema(buildKey).dataType
    require(keyType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }, s"bloomPrunedJoin supports integral and string keys, got $keyType")
    val keys = build.select(col(buildKey)).filter(col(buildKey).isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the 100k floor keeps the bit array out of the degenerate tiny
    // regime where two-hash double hashing's observed fpp collapses
    // (measured in the decontaminateBloom sizing probe)
    val nKeys = math.max(keys.count(), 100000L)
    val bf = keys.stat.bloomFilter(buildKey, nKeys, fpp)
    keys.unpersist(blocking = false)
    val bfB = probe.sparkSession.sparkContext.broadcast(bf)
    val hit = keyType match {
      case StringType =>
        val f = udf((k: String) =>
          k != null && bfB.value.mightContainString(k))
        f(col(probeKey))
      case _ =>
        val f = udf((k: java.lang.Long) =>
          k != null && bfB.value.mightContainLong(k))
        f(col(probeKey).cast(LongType))
    }
    val out = probe.filter(hit)
      .join(build, col(probeKey) === col(buildKey))
    (out, () => bfB.destroy())
  }

  /** Point-in-interval join WITHOUT a cross product — the 1-D sibling
    * of the geo grid join (`Geo.gridRevGeoZone`): every interval
    * explodes to the integer buckets it covers (`bucketWidth` units
    * each), every point keys on its single bucket, and the equi-join
    * on the bucket is refined by the exact half-open predicate
    * `start <= p < end`. A point has exactly ONE bucket, so each
    * qualifying (point, interval) pair emerges exactly once — no
    * post-join dedup.
    *
    * Columns are LONGs in any unit (epoch micros, day numbers …);
    * callers convert dates up front. Intervals with NULL or empty
    * ranges (`end <= start`) and NULL points drop out. Pick
    * `bucketWidth` near the typical interval length: an interval
    * emits `len/bucketWidth + 1` rows (its replication factor), while
    * a too-wide bucket makes the equi-join coarser (more refine-side
    * discards). Both sides hash-partition on the bucket — interval
    * count and point count move shuffle volume, but nothing
    * serializes through one task unless the DATA concentrates in one
    * bucket (then: smaller buckets).
    *
    * Column names must be disjoint across the two frames EXCEPT the
    * optional equality `keys` (checked), which join alongside the
    * bucket — the keyed form ("this user's events inside this user's
    * window") shards the bucket equi-join by the key, so a hot time
    * bucket spreads across keys instead of one task.
    */
  def pointInIntervalJoin(points: DataFrame, pointCol: String,
                          intervals: DataFrame, startCol: String,
                          endCol: String, bucketWidth: Long,
                          keys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap == keys.toSet,
      s"column collision across sides beyond the join keys: " +
        s"${overlap.diff(keys.toSet)}")
    val iv = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(endCol) > col(startCol))
      .withColumn("__b", explode(sequence(
        expr(s"`$startCol` div ${bucketWidth}L"),
        expr(s"(`$endCol` - 1) div ${bucketWidth}L"))))
    val pt = points.filter(col(pointCol).isNotNull)
      .withColumn("__b", expr(s"`$pointCol` div ${bucketWidth}L"))
    pt.join(iv, "__b" +: keys)
      .filter(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop("__b")
  }
}
