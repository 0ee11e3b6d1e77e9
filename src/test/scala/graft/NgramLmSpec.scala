package graft

import graft.text.NgramLm
import org.apache.spark.sql.functions._

class NgramLmSpec extends SparkSpec {
  import spark.implicits._

  // ref corpus: doc1 = "a b a b a" (5 tokens), doc2 = "c c c" (3).
  // N = 8 tokens, V = 3 words; c(a)=3 c(b)=2 c(c)=3;
  // bigram counts: (a,b)=2 (b,a)=2 (c,c)=2.
  private val ref = Seq((1L, "a b a b a"), (2L, "c c c"))

  test("trainBigramLm + scorePerplexity reproduce hand-computed " +
    "interpolated-bigram probabilities") {
    val docs = ref.toDF("doc_id", "text")
    val lm = NgramLm.trainBigramLm(docs, "text")
    val out = NgramLm.scorePerplexity(docs, "doc_id", "text", lm)
      .orderBy("doc_id").collect()

    // independent arithmetic (plain Scala, same formula):
    // doc1 bigrams [ab, ba, ab, ba]:
    //   p(ab) = 0.9*(2/3) + 0.1*((2+1)/11)   (w2 = b, c(b)=2)
    //   p(ba) = 0.9*(2/2) + 0.1*((3+1)/11)   (w2 = a, c(a)=3)
    // doc2 bigrams [cc, cc]: p(cc) = 0.9*(2/3) + 0.1*((3+1)/11)
    val pAb = 0.9 * (2.0 / 3.0) + 0.1 * (3.0 / 11.0)
    val pBa = 0.9 * 1.0 + 0.1 * (4.0 / 11.0)
    val pCc = 0.9 * (2.0 / 3.0) + 0.1 * (4.0 / 11.0)
    val nll1 = (2 * -math.log(pAb) + 2 * -math.log(pBa)) / 4.0
    val nll2 = -math.log(pCc)

    assert(out.length === 2)
    assert(out(0).getAs[Long]("n_bigrams") === 4L)
    assert(out(0).getAs[Double]("avg_nll") ===
      BigDecimal(nll1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(0).getAs[Double]("ppl") ===
      BigDecimal(math.exp(nll1)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(1).getAs[Long]("n_bigrams") === 2L)
    assert(out(1).getAs[Double]("avg_nll") ===
      BigDecimal(nll2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("OOV scoring: a fully-unseen doc gets exactly the add-one floor; " +
    "sub-2-token docs excluded; punctuation-insensitive normalization") {
    val lm = NgramLm.trainBigramLm(ref.toDF("doc_id", "text"), "text")
    val target = Seq(
      (10L, "z z"),            // OOV bigram AND OOV unigram
      (11L, "solo"),           // 1 token -> no bigrams -> excluded
      (12L, ""),               // empty -> excluded
      (13L, "A, b! a?? b -- a") // normalizes to "a b a b a" = doc1
    ).toDF("doc_id", "text")
    val out = NgramLm.scorePerplexity(target, "doc_id", "text", lm)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(10L, 13L))
    // p = 0.9*0 + 0.1*(0+1)/(8+3) = 1/110 exactly -> ppl = 110
    assert(out(0).getAs[Double]("ppl") === 110.0)
    // punctuation-stripped twin of training doc1 scores identically
    val fluent = out(1).getAs[Double]("ppl")
    val base = NgramLm.scorePerplexity(
        ref.toDF("doc_id", "text"), "doc_id", "text", lm)
      .filter(col("doc_id") === 1L).head().getAs[Double]("ppl")
    assert(fluent === base)
    // and far more fluent than the OOV doc
    assert(fluent < out(0).getAs[Double]("ppl") / 10)
  }

  test("trainStupidBackoff + scoreStupidBackoff reproduce hand-computed " +
    "backoff cascades at all three levels") {
    // counts from `ref`: c(a)=3 c(b)=2 c(c)=3, N=8 V=3;
    // bigram (a,b)=2 (b,a)=2 (c,c)=2;
    // trigram (a,b,a)=2 (b,a,b)=1 (c,c,c)=1
    val lm = NgramLm.trainStupidBackoff(ref.toDF("doc_id", "text"), "text")
    val target = Seq(
      (1L, "a b a b a"),  // seen trigrams: S = [2/2, 1/2, 2/2]
      (10L, "a a b"),     // unseen trigram, seen bigram (a,b): 0.4*(2/3)
      (11L, "a c b"),     // unseen trigram+bigram, seen unigram b:
                          //   0.4*(0.4*(2+1)/11)
      (12L, "z z z"),     // fully OOV: 0.4*(0.4*(0+1)/11)
      (13L, "a b")        // 2 tokens -> no trigram positions -> excluded
    ).toDF("doc_id", "text")
    val out = NgramLm.scoreStupidBackoff(target, "doc_id", "text", lm)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 10L, 11L, 12L))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nls1 = (-math.log(1.0) + -math.log(0.5) + -math.log(1.0)) / 3.0
    assert(out(0).getAs[Long]("n_trigrams") === 3L)
    assert(out(0).getAs[Double]("avg_nls") === r6(nls1))
    assert(out(1).getAs[Double]("avg_nls") === r6(-math.log(0.4 * (2.0 / 3.0))))
    assert(out(2).getAs[Double]("avg_nls") ===
      r6(-math.log(0.4 * (0.4 * (3.0 / 11.0)))))
    assert(out(3).getAs[Double]("avg_nls") ===
      r6(-math.log(0.4 * (0.4 * (1.0 / 11.0)))))
    // fluency ordering: seen > bigram-backoff > unigram-backoff > OOV
    val ppls = out.map(_.getAs[Double]("sbo_ppl"))
    assert(ppls.sameElements(ppls.sorted),
      s"backoff depth must order perplexity: ${ppls.toSeq}")
  }

  test("curate lmOpt: the gibberish doc scoring above the ppl cap drops " +
    "at the LM stage; fluent docs survive to dedup") {
    // 20 identical fluent docs + 1 stopword-laced gibberish doc (the
    // 'the' glue keeps it past lang-id and the stopword gate, so the
    // LM stage is the ONLY gate that can catch it)
    val fluent = "the quick brown fox jumps over the lazy dog again and again"
    val gibberish = "the zq the xv the qq the kj the zz the pw"
    val docs = ((1L to 20L).map(i => (i, fluent)) :+ (99L, gibberish))
      .toDF("doc_id", "text")
    val lm = NgramLm.trainBigramLm(docs, "text")
    val ppls = NgramLm.scorePerplexity(docs, "doc_id", "text", lm)
      .select("doc_id", "ppl").as[(Long, Double)].collect().toMap
    assert(ppls(99L) > ppls(1L) * 2, s"fixture must separate: $ppls")
    val cap = (ppls(1L) + ppls(99L)) / 2

    val (out, report) = graft.pipelines.CorpusPipeline.curate(
      docs, langs = Seq("en"),
      gates = graft.pipelines.CorpusPipeline.QualityGates(
        minTokens = 5, minAlphaRatio = 0.3, maxPunctRatio = 0.5,
        minStopwordRatio = 0.0),
      lmOpt = Some((docs, cap)))
    assert(report("after_lm") === report("after_lang") - 1,
      s"exactly the gibberish doc drops at the LM stage: $report")
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(99L))
    assert(ids.contains(1L))
  }

  // independent driver-side recomputation of the CCNet bucket rule:
  // per group, t_p = sorted-asc ppl at 1-indexed rank ceil(n*p)
  // (percentile_disc), bucket by value compare
  private def naiveBuckets(scored: Seq[(Long, Option[String], Double)],
                           p1: Double = 1.0 / 3.0,
                           p2: Double = 2.0 / 3.0): Map[Long, String] =
    scored.groupBy(_._2).flatMap { case (_, rows) =>
      val ppls = rows.map(_._3).sorted
      val n = ppls.length
      val t1 = ppls(math.ceil(n * p1).toInt - 1)
      val t2 = ppls(math.ceil(n * p2).toInt - 1)
      rows.map { case (id, _, p) =>
        id -> (if (p <= t1) "head" else if (p <= t2) "middle" else "tail")
      }
    }

  private def bucketRows(out: org.apache.spark.sql.DataFrame): Map[Long, String] =
    out.select("doc_id", "bucket").as[(Long, String)].collect().toMap

  test("perplexityBuckets == driver-side percentile_disc rule on a skewed " +
    "fixture (one group 90% of rows, NULL group, cross-bucket ppl runs)") {
    // 200 docs: 180 'en', 14 'de', 6 NULL-lang; texts vary so ppl
    // spreads over many distinct values and integer-ppl buckets
    val words = Array("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "river", "stone")
    val docs = (1L to 200L).map { i =>
      val g = if (i % 15 == 1) "de" else if (i % 37 == 2) null else "en"
      val txt = (0 until (i % 7 + 3).toInt)
        .map(j => words(((i * 7 + j * 3) % 10).toInt)).mkString(" ")
      (i, g, txt)
    }.toDF("doc_id", "lang", "text")
    val lm = NgramLm.trainBigramLm(docs, "text")
    val before = persistedIds()
    val (bucketed, release) = graft.pipelines.CorpusPipeline.perplexityBuckets(
      docs, "doc_id", "text", "lang", lm)
    val out = graft.state.Checkpoints.stableThenRelease(bucketed, release)
    assert(persistedSince(before, out).isEmpty, "the score cache outlived the release")
    val scored = NgramLm.scorePerplexity(docs, "doc_id", "text", lm)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select("doc_id", "lang", "ppl")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2)))
    assert(scored.exists(_._2.isEmpty), "fixture must include NULL-group docs")
    assert(bucketRows(out) === naiveBuckets(scored.toIndexedSeq))
    // buckets are value-ordered within every group
    val byG = out.select("lang", "ppl", "bucket")
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1), r.getString(2)))
      .groupBy(_._1)
    byG.values.foreach { rows =>
      def pplsOf(b: String) = rows.filter(_._3 == b).map(_._2)
      val (h, m, t) = (pplsOf("head"), pplsOf("middle"), pplsOf("tail"))
      if (h.nonEmpty && m.nonEmpty) assert(h.max <= m.min)
      if (m.nonEmpty && t.nonEmpty) assert(m.max <= t.min)
    }
  }

  test("perplexityBuckets ties: identical docs share one ppl and therefore " +
    "one bucket, even when a rank split would cut through them") {
    // 4 identical docs + 2 distinct ones: n=6, rank terciles would cut
    // 2|2|2 — splitting the four-way tie across buckets — but the
    // VALUE threshold absorbs the whole tie run into one bucket.
    // (With a self-trained LM the unique-word docs score LOWEST: every
    // bigram and unigram is deterministic at count 1/1, while the
    // twins' repeated 'the' spreads conditional mass — so the twins
    // tie ABOVE the two singles and the tie run straddles the
    // middle/tail rank boundary.)
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "the quick brown fox jumps over the lazy dog"),
      (3L, "en", "the quick brown fox jumps over the lazy dog"),
      (4L, "en", "the quick brown fox jumps over the lazy dog"),
      (5L, "en", "zq xv kj pw mm nn"),
      (6L, "en", "aa bb cc dd ee ff gg")).toDF("doc_id", "lang", "text")
    val lm = NgramLm.trainBigramLm(docs, "text")
    val (bucketed, release) = graft.pipelines.CorpusPipeline.perplexityBuckets(
      docs, "doc_id", "text", "lang", lm)
    val out = try bucketRows(bucketed) finally release()
    val scored = NgramLm.scorePerplexity(docs, "doc_id", "text", lm)
      .select("doc_id", "ppl").as[(Long, Double)].collect()
      .map { case (id, p) => (id, Some("en"): Option[String], p) }
    assert(out === naiveBuckets(scored.toIndexedSeq))
    assert(Seq(1L, 2L, 3L, 4L).map(out).toSet.size === 1,
      s"tied twins must land together: $out")
    assert(!out.values.exists(_ == "tail"),
      s"the value threshold absorbs the whole tie run — a rank split " +
        s"would have forced two twins into tail: $out")
  }

  test("perplexityBuckets plan: the ppl-ordered histogram window carries " +
    "the integer-ppl bucket key — no bare-group window anywhere") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val docs = Seq((1L, "en", "a b c"), (2L, "de", "d e f"))
      .toDF("doc_id", "lang", "text")
    val lm = NgramLm.trainBigramLm(docs, "text")
    val (out, release) = graft.pipelines.CorpusPipeline.perplexityBuckets(
      docs, "doc_id", "text", "lang", lm)
    val wins = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val orderRefs = w.orderSpec.flatMap(_.child.references.map(_.name))
      if (orderRefs.contains("ppl")) {
        val partRefs = w.partitionSpec.flatMap(_.references.map(_.name))
        assert(partRefs.contains("__b"),
          s"ppl-ordered window must partition by (group, __b), got $partRefs")
      }
    }
    release()
  }

  test("corpus-scale sanity on sf0.001 documents: every scored doc has " +
    ">= 1 bigram, nll positive, and docs of repeated common bigrams " +
    "score lower than the corpus median") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val lm = NgramLm.trainBigramLm(docs, "text")
    val out = NgramLm.scorePerplexity(docs, "doc_id", "text", lm).cache()
    val n = out.count()
    assert(n > 0)
    assert(out.filter(col("n_bigrams") < 1 || col("avg_nll") <= 0).count() === 0)
    // the most duplicated text in the corpus (near-dup cluster members
    // share bigrams trained multiple times) must sit below the median:
    // perplexity REWARDS text the model has seen often — the CCNet
    // head-bucket behavior
    val med = out.stat.approxQuantile("ppl", Array(0.5), 0.0).head
    val dupIds = graft.dedup.NearDup.minhashLshPairs(
        docs, "doc_id", "text", threshold = 0.8)
      .select(col("id_a").as("doc_id")).distinct()
    val dupPpls = out.join(dupIds, "doc_id").select("ppl").as[Double].collect()
    assert(dupPpls.nonEmpty)
    assert(dupPpls.count(_ < med) * 2 >= dupPpls.length,
      s"duplicated docs should mostly score below median ppl $med")
    out.unpersist()
  }

  test("trainKneserNey + scoreKneserNey reproduce hand-computed " +
    "discounted probabilities at all three paths (seen bigram, seen " +
    "head + unseen bigram, unseen head)") {
    // counts from `ref`: bigrams (a,b)=2 (b,a)=2 (c,c)=2; B = 3 types,
    // Vc = |{b, a, c}| = 3; heads a/b/c each c1b = 2, n1from = 1;
    // pcont(w) = (1+1)/(3+3) for every seen continuation, floor 1/6
    val lm = NgramLm.trainKneserNey(ref.toDF("doc_id", "text"), "text")
    assert(lm.contFloor === 1.0 / 6.0)
    val target = Seq(
      (1L, "a b a b a"), // seen bigrams: p = (2-0.75 + 0.75*1*pc)/2
      (20L, "a c"),      // seen head a, unseen bigram (a,c)
      (21L, "z z"),      // unseen head: p = contFloor
      (22L, "solo")      // 1 token -> excluded
    ).toDF("doc_id", "text")
    val out = NgramLm.scoreKneserNey(target, "doc_id", "text", lm)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 20L, 21L))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pc = (1.0 + 1.0) / 6.0
    val pSeen = (math.max(2.0 - 0.75, 0.0) + 0.75 * 1.0 * pc) / 2.0
    assert(out(0).getAs[Long]("n_bigrams") === 4L)
    assert(out(0).getAs[Double]("ppl") === r4(1.0 / pSeen))
    val pBackoff = (math.max(0.0 - 0.75, 0.0) + 0.75 * 1.0 * pc) / 2.0
    assert(out(1).getAs[Double]("ppl") === r4(1.0 / pBackoff))
    assert(out(2).getAs[Double]("ppl") === r4(6.0), "unseen head = floor")
    // the continuation intuition: after the discount, a seen bigram
    // still scores far above a backed-off one
    assert(pSeen > 4 * pBackoff)
  }
}
