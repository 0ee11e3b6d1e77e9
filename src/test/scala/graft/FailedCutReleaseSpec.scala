package graft

import graft.dedup.NearDup
import graft.graph.PageRank
import graft.operators.{AnalyticsOps, SplitOps}
import graft.text.{Bpe, Classify, NgramLm, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Operators that persist a frame, cut their result and then release
  * the frame must release it when the cut throws too: the release sits
  * in a `finally` (`Checkpoints.stableThenRelease` or an explicit
  * try/finally), not after the cut.
  */
class FailedCutReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog again"),
    (2L, "en", "the quick brown fox jumps over the lazy dog twice"),
    (3L, "de", "der schnelle braune fuchs springt über den hund"),
    (4L, "de", "noch ein deutscher satz mit ein paar wörtern"),
    (5L, "en", "another small english sentence about a dog")
  ).toDF("doc_id", "lang", "text")

  private def labels: DataFrame = Seq(
    ("en", "en"), ("en", "de"), ("de", "de"), ("de", "de"), ("en", "en")
  ).toDF("truth", "pred")

  private def events: DataFrame = (0 until 40).map { i =>
    (if (i % 2 == 0) "view" else "click",
      java.sql.Timestamp.valueOf(f"2024-01-${i % 20 + 1}%02d 10:00:00"),
      (i % 7).toDouble, i % 5L, i % 4L)
  }.toDF("event_type", "ts", "value", "user_id", "item")

  private def edges: DataFrame = Seq(
    ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("src", "dst")

  test("persist → cut → release operators free their caches when the " +
    "cut throws") {
    val ops: Seq[(String, () => Any)] = Seq(
      "AnalyticsOps.psiDrift" -> (() => AnalyticsOps.psiDrift(events)),
      "AnalyticsOps.itemRecHoldout" -> (() =>
        AnalyticsOps.itemRecHoldout(events, "user_id", "item", "ts")),
      "Classify.dsirWeights" -> (() => Classify.dsirWeights(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text", 64)),
      "Classify.confusionReport" -> (() =>
        Classify.confusionReport(labels, "truth", "pred")),
      "Classify.cohenKappa" -> (() =>
        Classify.cohenKappa(labels, "truth", "pred")),
      "Classify.distinctiveTerms" -> (() =>
        Classify.distinctiveTerms(docs, "lang", "text", k = 3)),
      "TextOps.vocabCoverage" -> (() =>
        TextOps.vocabCoverage(docs, "text", 1, 2)),
      "TextOps.ngramNovelty" -> (() =>
        TextOps.ngramNovelty(docs, "doc_id", "text")),
      "TextOps.pmiCollocations" -> (() =>
        TextOps.pmiCollocations(docs, "text", k = 5, minCount = 1L)),
      "SplitOps.kFoldReport" -> (() =>
        SplitOps.kFoldReport(docs, "doc_id", "lang", k = 2)),
      "NearDup.prefixJaccardPairs" -> (() =>
        NearDup.prefixJaccardPairs(docs, "doc_id", "text")),
      "Bpe.train" -> (() => Bpe.train(docs, "text", numMerges = 3)),
      "NgramLm.trainKneserNey" -> (() => NgramLm.trainKneserNey(docs, "text")),
      "PageRank.pageRank" -> (() =>
        PageRank.pageRank(edges, "src", "dst", iterations = 2)),
      "PageRank.personalizedPageRank" -> (() => PageRank.personalizedPageRank(
        edges, "src", "dst", Seq("a").toDF("s"), "s", iterations = 2)))
    val leaks = ops.flatMap { case (name, op) =>
      val before = persistedIds()
      withFailingCuts(intercept[Exception](op()))
      val left = persistedSince(before)
      if (left.isEmpty) None else Some(s"$name left RDDs $left")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}
