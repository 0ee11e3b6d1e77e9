package graft

import graft.operators.AnalyticsOps
import graft.state.Checkpoints
import org.apache.spark.sql.functions._

/** The engine-level lineage-cut knob (VERDICT r14 task #6): default
  * off → eager localCheckpoint (single-JVM target); on → reliable
  * checkpoint into the configured checkpoint dir (multi-executor
  * fault tolerance). The CF surface — the checkpoint-heaviest operator
  * family — must produce identical results both ways.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def withFlag[A](value: String)(f: => A): A = {
    val prev = spark.conf.getOption(Checkpoints.ReliableFlag)
    spark.conf.set(Checkpoints.ReliableFlag, value)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(Checkpoints.ReliableFlag, v)
      case None    => spark.conf.unset(Checkpoints.ReliableFlag)
    }
  }

  private def ratings = Seq(
    (1L, 10L), (1L, 11L), (1L, 12L),
    (2L, 10L), (2L, 11L),
    (3L, 11L), (3L, 12L),
    (4L, 10L), (4L, 12L)).toDF("user_id", "item_id")

  test("default (flag off) stable() is a localCheckpoint: no checkpoint " +
    "dir needed, plan collapses to a scanned relation") {
    assert(!Checkpoints.isReliable(spark))
    val out = Checkpoints.stable(ratings.filter(col("item_id") > 10L))
    assert(out.count() === 6L)
  }

  test("flag on without a checkpoint dir fails fast with the actionable " +
    "message") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    withFlag("true") {
      val e = intercept[IllegalArgumentException] {
        Checkpoints.stable(ratings)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
  }

  test("stableLazy: flag off needs no checkpoint dir; flag on without " +
    "a dir fails fast (the iterative-loop cut sites, ADVICE r15)") {
    assert(Checkpoints.stable(ratings).count() === 9L)
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    withFlag("true") {
      val e = intercept[IllegalArgumentException] {
        Checkpoints.stable(ratings)
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    }
  }

  test("iterative-loop operator (connected components, a stableLazy " +
    "per-round cut) is identical under both checkpoint modes") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 1L))
      .toDF("id_a", "id_b")
    val expected = graft.graph.GraphOps.connectedComponents(pairs)
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    val dir = tempDir("graftckpt3")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val reliable = withFlag("true") {
        graft.graph.GraphOps.connectedComponents(pairs)
          .collect().map(_.toSeq).toSet
      }
      assert(reliable === expected)
    } finally TempTrees.deleteQuietly(dir)
  }

  test("CF item similarity is identical under both checkpoint modes") {
    val expected = AnalyticsOps
      .itemSimilarity(ratings, "user_id", "item_id", k = 5)
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    val dir = tempDir("graftckpt")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val reliable = withFlag("true") {
        AnalyticsOps.itemSimilarity(ratings, "user_id", "item_id", k = 5)
          .collect().map(_.toSeq).toSet
      }
      assert(reliable === expected)
    } finally TempTrees.deleteQuietly(dir)
  }

  test("CF rec holdout is identical under both checkpoint modes") {
    val dated = ratings.withColumn("ts",
      to_timestamp(concat(lit("2024-01-0"),
        (col("item_id") % 9 + 1).cast("string"))))
    val expected = AnalyticsOps
      .itemRecHoldout(dated, "user_id", "item_id", "ts", k = 5)
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    val dir = tempDir("graftckpt2")
    try {
      spark.sparkContext.setCheckpointDir(dir.toString)
      val reliable = withFlag("true") {
        AnalyticsOps.itemRecHoldout(dated, "user_id", "item_id", "ts", k = 5)
          .collect().map(_.toSeq).toSet
      }
      assert(reliable === expected)
    } finally TempTrees.deleteQuietly(dir)
  }
}
