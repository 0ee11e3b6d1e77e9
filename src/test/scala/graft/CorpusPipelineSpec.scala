package graft

import graft.pipelines.CorpusPipeline
import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("curate on sf0.001 documents: stages shrink monotonically, near-dups dropped") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val (out, report) = CorpusPipeline.curate(
      docs, langs = Seq("en", "zh"),
      gates = CorpusPipeline.QualityGates(
        minTokens = 5, minAlphaRatio = 0.3, maxPunctRatio = 0.5, minStopwordRatio = 0.0))
    assert(report("input") > 0)
    assert(report("after_quality") <= report("input"))
    assert(report("after_lang") <= report("after_quality"))
    assert(report("after_exact_dedup") <= report("after_lang"))
    assert(report("after_near_dedup") <= report("after_exact_dedup"))
    assert(report("final") === report("after_near_dedup"))
    assert(out.count() === report("final"))

    // no near-dup pair should survive among the keepers
    val residual = graft.dedup.NearDup.minhashLshPairs(out, "doc_id", "text", threshold = 0.8)
    assert(residual.count() === 0, "curated corpus must contain no near-dup pair")
  }

  test("nearDupDrop keeps exactly one doc per duplicate cluster (min id)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 1
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact dup of 1
      (9L, "completely different text with many unique words here now")
    ).toDF("doc_id", "text")
    val kept = CorpusPipeline.nearDupDrop(docs, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 9L), s"got $kept")
  }

  test("nearDupDropBest keeps the highest-score doc per cluster, ties to " +
    "min id, unclustered docs untouched") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", 2.0),
      (2L, "alpha beta gamma delta epsilon zeta eta iota", 9.0),  // near-dup of 1, better
      (7L, "alpha beta gamma delta epsilon zeta eta theta", 9.0), // near-dup of 1, ties 2
      (9L, "completely different text with many unique words here now", 0.1)
    ).toDF("doc_id", "text", "quality")
    val kept = CorpusPipeline.nearDupDropBest(docs, "doc_id", "text",
        col("quality"), threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,7}: max score 9.0 shared by 2 and 7 -> min id 2 wins;
    // 9 is unclustered and passes through
    assert(kept === Set(2L, 9L), s"got $kept")
  }

  test("minLabelComponents: chain of 12 converges to one representative (fixpoint, not fixed-iteration)") {
    // a 12-hop duplicate chain needs 11 one-hop propagations; the old
    // maxIter=5 under-merged it. Pointer jumping should converge it in
    // O(log n) rounds well under the backstop.
    val nodes = (1L to 12L).toDF("node")
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // both strategies: driver union-find (small gate) and the
    // distributed fixpoint loop (gate forced off)
    for (gate <- Seq(100000L, 0L)) {
      val before = persistedIds()
      val out = CorpusPipeline.minLabelComponents(nodes, pairs, smallEdgeLimit = gate)
      val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.values.toSet === Set(1L),
        s"all nodes must label to 1 (gate=$gate), got $labels")
      // only the returned labels' cut outlives the call
      assert(persistedSince(before, out).isEmpty, s"gate=$gate")
    }
  }

  test("minLabelComponents: disjoint components keep distinct min labels") {
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("node")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = CorpusPipeline.minLabelComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("minLabelComponents: driver union-find and distributed fixpoint agree " +
    "on randomized graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val nNodes = 60 + trial * 20
      val nodes = (1L to nNodes.toLong).toDF("node")
      val pairs = Seq.fill(nNodes)(
        (rnd.nextInt(nNodes).toLong + 1L, rnd.nextInt(nNodes).toLong + 1L))
        .filter { case (a, b) => a != b }
        .toDF("id_a", "id_b")
      def labels(gate: Long) = CorpusPipeline
        .minLabelComponents(nodes, pairs, smallEdgeLimit = gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val small = labels(1000000L)   // driver union-find path
      val dist  = labels(0L)         // distributed fixpoint path
      assert(small === dist, s"trial $trial: strategy outputs diverge")
      // every label is the component minimum: a label never exceeds its node
      assert(small.forall { case (n, l) => l <= n }, s"trial $trial: non-min label")
    }
  }

  test("minLabelComponents: string doc ids work on both strategies (lexicographic min)") {
    // the driver union-find used to cast ids to long — an ANSI cast
    // error for string ids, and only on edge sets under the small gate
    val nodes = Seq("doc-a", "doc-b", "doc-c", "doc-x", "doc-y", "lone").toDF("node")
    val pairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-y", "doc-x"))
      .toDF("id_a", "id_b")
    for (gate <- Seq(100000L, 0L)) {
      val labels = CorpusPipeline.minLabelComponents(nodes, pairs, smallEdgeLimit = gate)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(labels === Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
        "doc-x" -> "doc-x", "doc-y" -> "doc-x", "lone" -> "lone"), s"gate=$gate: $labels")
    }
  }

  test("tokenBudget: two-level cumulative cut matches a naive global cumsum") {
    val docs = (1L to 300L).map(i => (i, ("w " * ((i % 7).toInt + 1)).trim)).toDF("doc_id", "text")
    val out = CorpusPipeline.tokenBudget(docs, "doc_id", "text", budget = 200, bucketSize = 50)
      .select("doc_id").as[Long].collect().toSet
    // naive reference
    var cum = 0L
    val expect = (1L to 300L).flatMap { i =>
      cum += i % 7 + 1
      if (cum <= 200) Some(i) else None
    }.toSet
    assert(out === expect)
  }

  test("curate with boilerplate removal + decontamination stages wired in") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "a completely different document with enough words to pass the gates"),
      (3L, "this one shares the quick brown fox phrase so it is contaminated"))
      .toDF("doc_id", "text")
    val bench = Seq("the quick brown fox").toDF("btext")
    val (out, report) = CorpusPipeline.curate(
      docs, langs = Seq("en"),
      gates = CorpusPipeline.QualityGates(
        minTokens = 5, minAlphaRatio = 0.3, maxPunctRatio = 0.5,
        minStopwordRatio = 0.0),
      boilerplateMaxDocs = Some(5),
      benchmarkOpt = Some((bench, "btext", 4)))
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(1L) && !kept.contains(3L),
      "docs sharing a benchmark 4-gram must be dropped")
    assert(kept.contains(2L))
    assert(report("after_decontamination") < report("after_near_dedup"))
  }

  test("packSequences: concat-then-chunk pack assignment matches a naive " +
    "global cumsum, documents straddle pack boundaries correctly") {
    import org.apache.spark.sql.functions._
    // deterministic token counts: doc i has i+1 tokens
    val docs = (0 until 50)
      .map(i => (i.toLong, (0 to i).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = CorpusPipeline.packSequences(docs, "doc_id", "text",
        packLen = 16, bucketSize = 7)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    var start = 0L
    packed.zipWithIndex.foreach { case ((id, nTok, packId, off), i) =>
      assert(id === i.toLong)
      assert(nTok === i + 1L)
      assert(packId === start / 16, s"doc $i pack")
      assert(off === start % 16, s"doc $i offset")
      start += nTok
    }
    // bucket boundaries must not reset offsets: doc 7 starts at 1+2+...+7=28
    assert(packed(7)._3 === 28L / 16 && packed(7)._4 === 28L % 16)
  }

  test("chunkDocuments: overlapping windows, short docs get one chunk, " +
    "empty/NULL docs yield no rows") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b"),                                    // < chunk size
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = CorpusPipeline.chunkDocuments(docs, "doc_id", "text",
        chunkTokens = 4, overlap = 1) // stride 3
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Long, String)].collect()
    // doc 1: ceil((10-1)/3) = 3 chunks at offsets 0,3,6
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq === Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(d1.map(_._2).toSeq === Seq(0L, 1L, 2L))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq === Seq("a b"))
    assert(!out.exists(r => r._1 == 3L || r._1 == 4L))
  }

  test("dropBoilerplateLines: corpus-frequent lines removed, order kept, " +
    "all-boilerplate doc -> empty string") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b\nboiler\nkeep one"), (2L, "boiler\nc d"),
      (3L, "boiler"), (4L, "solo"))
      .toDF("doc_id", "text")
    val before = persistedIds()
    val (cleaned, release) = graft.pipelines.CorpusPipeline
      .dropBoilerplateLines(docs, "doc_id", "text", maxDocs = 2)
    val cut = graft.state.Checkpoints.stableThenRelease(cleaned, release)
    val out = cut.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq(
      (1L, "a b\nkeep one"), (2L, "c d"), (3L, ""), (4L, "solo")))
    assert(persistedSince(before, cut).isEmpty, "the lines cache outlived the release")
  }

  test("dropBoilerplateLines: blank separators survive even when corpus-" +
    "frequent, and both consumers read the persisted exploded scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a\n\nboiler"), (2L, "b\n\nboiler"), (3L, "c\n\nboiler"))
      .toDF("doc_id", "text")
    val (out, release) = graft.pipelines.CorpusPipeline
      .dropBoilerplateLines(docs, "doc_id", "text", maxDocs = 2)
    val got = out.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq((1L, "a\n"), (2L, "b\n"), (3L, "c\n")),
      "boilerplate dropped, paragraph breaks kept")
    val plan = out.queryExecution.executedPlan.toString()
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      s"frequency count and rebuild must share the cached exploded scan:\n$plan")
    release()
  }

  test("dedupParagraphs: keep-first semantics — cross-doc dups removed, " +
    "within-doc dup with an earlier foreign first loses BOTH copies, " +
    "blanks immune, fully-deduped doc -> empty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "intro one\ncommon footer\nbody a"),
      (2L, "intro two\ncommon footer\nbody b"),
      (3L, "common footer\nunique three"),
      (4L, "body a\nbody a"),
      (5L, ""),
      (6L, "   \nsolo")).toDF("doc_id", "text")
    val before = persistedIds()
    val (deduped, release) = graft.pipelines.CorpusPipeline
      .dedupParagraphs(docs, "doc_id", "text")
    val cut = graft.state.Checkpoints.stableThenRelease(deduped, release)
    val out = cut.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "intro one\ncommon footer\nbody a", 0L),
      (2L, "intro two\nbody b", 1L),
      (3L, "unique three", 1L),
      (4L, "", 2L),
      (5L, "", 0L),
      (6L, "   \nsolo", 0L)))
    assert(persistedSince(before, cut).isEmpty, "the paragraphs cache outlived the release")
  }

  test("dedupParagraphs == naive row_number-per-paragraph window on a " +
    "randomized corpus, and the operator's own plan is window-free") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // 120 docs of 1-5 paragraphs drawn from a 25-paragraph pool:
    // heavy cross-doc and within-doc duplication, deterministic seed
    val rnd = new scala.util.Random(7)
    val pool = (0 until 25).map(i => s"para $i ${"w" * (i % 4)}")
    val docs = (1L to 120L).map { i =>
      val n = rnd.nextInt(5) + 1
      (i, (0 until n).map(_ => pool(rnd.nextInt(25))).mkString("\n"))
    }.toDF("doc_id", "text")
    val (deduped, release) = graft.pipelines.CorpusPipeline
      .dedupParagraphs(docs, "doc_id", "text")
    val got = try deduped.select("doc_id", "text", "n_removed_paragraphs")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    finally release()
    // naive reference: row_number over each paragraph's occurrences
    // (the hot-partition shape the operator deliberately avoids)
    val paras = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n")).as(Seq("pos", "para")))
    val rn = row_number().over(
      Window.partitionBy("para").orderBy("doc_id", "pos"))
    val keptNaive = paras
      .withColumn("rn", when(trim(col("para")) === "", lit(1)).otherwise(rn))
      .filter(col("rn") === 1)
    val rebuiltNaive = keptNaive.groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), "\n").as("clean"),
        count(lit(1)).as("nk"))
    val expect = docs
      .withColumn("np", size(split(col("text"), "\n")).cast("long"))
      .join(rebuiltNaive, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean"), lit("")),
        col("np") - coalesce(col("nk"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === expect)
    // the operator itself must not plan ANY window (min-struct
    // aggregation instead of per-paragraph row_number)
    val (out2, release2) = graft.pipelines.CorpusPipeline
      .dedupParagraphs(docs, "doc_id", "text")
    val wins = out2.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.isEmpty, "paragraph dedup must be window-free")
    release2()
  }

  test("dedupParagraphs is idempotent: a second pass removes nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x\ny\nx"), (2L, "y\nz"), (3L, "x\nz\nw")).toDF("doc_id", "text")
    val (first, releaseFirst) = graft.pipelines.CorpusPipeline
      .dedupParagraphs(docs, "doc_id", "text")
    val once = first.select("doc_id", "text")
    val (twice, releaseTwice) = graft.pipelines.CorpusPipeline
      .dedupParagraphs(once, "doc_id", "text")
    assert(twice.filter(col("n_removed_paragraphs") =!= 0L).count() === 0)
    assert(twice.select("doc_id", "text").collect().toSet ===
      once.collect().toSet)
    Seq(releaseTwice, releaseFirst).foreach(_())
  }

  test("decontaminate: shared-trigram counts; clean docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"), // 2 grams shared with bench
      (2L, "totally different words here"),
      (3L, "quick brown fox"))           // 1 gram shared
      .toDF("doc_id", "text")
    val bench = Seq("the quick brown fox").toDF("btext")
    val out = graft.pipelines.CorpusPipeline
      .decontaminate(docs, "doc_id", "text", bench, "btext", n = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("tokenBudgetByGroup: per-group budgets honored independently, " +
    "unknown group -> zero budget") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "one two three four five"),  // 5 tok, cum 5
      (2L, "en", "six seven eight"),          // 3 tok, cum 8
      (3L, "en", "nine ten"),                 // cum 10 > 8 -> out
      (4L, "de", "eins zwei"),                // cum 2
      (5L, "fr", "un deux"))                  // unknown group -> out
      .toDF("doc_id", "lang", "text")
    val out = graft.pipelines.CorpusPipeline.tokenBudgetByGroup(
      docs, "doc_id", "text", "lang", Map("en" -> 8L, "de" -> 100L))
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 4L))
  }

  test("tokenBudgetByGroup: NULL-id rows survive the bucket join and " +
    "budget-count FIRST (r8 review: === on the bucket key dropped them)") {
    import spark.implicits._
    val docs = Seq(
      (Some(1L), "en", "one two three"), // 3 tok, cum 5 after the NULL row
      (None,     "en", "alpha beta"),    // 2 tok, NULLS FIRST -> cum 2
      (Some(2L), "en", "x y z w"))       // 4 tok, cum 9 > 5 -> out
      .toDF("doc_id", "lang", "text")
    val out = graft.pipelines.CorpusPipeline.tokenBudgetByGroup(
        docs, "doc_id", "text", "lang", Map("en" -> 5L))
      .select("doc_id").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
    assert(out === Set(None, Some(1L)), s"got $out")
  }

  test("tokenBudgetByGroup: two-level grouped cumsum == naive per-group " +
    "window on a skewed corpus (one group = 90% of rows), incl. NULL group") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 900 'en' docs, 80 'de', 20 NULL-group — ids interleaved so group
    // runs cross bucket boundaries (bucketSize=37 below)
    val docs = (1L to 1000L).map { i =>
      val g = if (i % 10 == 1) "de" else if (i % 50 == 2) null else "en"
      (i, g, ("w " * ((i % 5).toInt + 1)).trim)
    }.toDF("doc_id", "lang", "text")
    val budgets = Map("en" -> 1300L, "de" -> 90L)
    val got = graft.pipelines.CorpusPipeline.tokenBudgetByGroup(
        docs, "doc_id", "text", "lang", budgets, bucketSize = 37L)
      .select("doc_id").as[Long].collect().toSet
    // naive single-window-per-group reference (the pre-r8 plan shape)
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = docs
      .withColumn("__n", graft.text.TextOps.tokenCount(col("text")).cast("long"))
      .withColumn("__c", sum("__n").over(w))
      .filter(col("__c") <= coalesce(
        try_element_at(typedlit(budgets), col("lang")), lit(0L)))
      .select("doc_id").as[Long].collect().toSet
    assert(got === expect,
      "grouped two-level cumsum must reproduce the naive window exactly")
    assert(got.nonEmpty && got.size < 1000, "cut must be non-trivial")
  }

  test("tokenBudgetByGroup plan: no data-side window partitioned by the " +
    "group alone — every id-ordered window carries the bucket key") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val docs = Seq((1L, "en", "a b"), (2L, "de", "c")).toDF("doc_id", "lang", "text")
    val out = graft.pipelines.CorpusPipeline.tokenBudgetByGroup(
      docs, "doc_id", "text", "lang", Map("en" -> 10L))
    val wins = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      val orderRefs = w.orderSpec.flatMap(_.child.references.map(_.name))
      if (orderRefs.contains("doc_id")) {
        val partRefs = w.partitionSpec.flatMap(_.references.map(_.name))
        assert(partRefs.contains("__b"),
          s"id-ordered window must partition by (group, __b), got $partRefs — " +
            "a group-only partition serializes the whole group through one task")
      }
    }
  }

  test("redactCorpusPii scrubs emails/phones/names in the text column") {
    import spark.implicits._
    val docs = Seq((1L, "contact Joe Smith at joe@x.com or 412-555-1234"))
      .toDF("doc_id", "text")
    val got = graft.pipelines.CorpusPipeline.redactCorpusPii(docs, "text")
      .select("text").as[String].head()
    assert(got.contains("[EMAIL_ADDRESS]") && got.contains("[PHONE_NUMBER]"))
    assert(!got.contains("joe@x.com") && !got.contains("412-555-1234"))
    assert(got.contains("[PERSON_NAME]") && !got.contains("Joe Smith"))
  }

  test("compressionRatio: repetitive text compresses far below varied text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam " * 200),
      (2L, (1 to 200).map(i => s"w$i").mkString(" ")),
      (3L, ""))
      .toDF("doc_id", "text")
    val m = graft.text.TextOps.compressionRatio(docs)
      .select("doc_id", "compression_ratio")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val spam = m(1L).get.asInstanceOf[Double]
    val varied = m(2L).get.asInstanceOf[Double]
    assert(spam < 0.1 && varied > spam * 3,
      s"spam=$spam varied=$varied")
    assert(m(3L).isEmpty, "empty text -> NULL")
  }

  test("duplicateSpans: cross-doc windows found, case-folded, short docs excluded") {
    import spark.implicits._
    // docs 1 and 2 share the 4-token window "a b c d" (doc 2 upper-case);
    // doc 1 repeats it internally (n_occurrences 2 + 1 = 3);
    // doc 3 has 4 tokens but no shared window; doc 4 is too short
    val docs = Seq(
      (1L, "a b c d x a b c d"),
      (2L, "A B C D y"),
      (3L, "p q r s"),
      (4L, "a b c")).toDF("doc_id", "text")
    val rows = CorpusPipeline.duplicateSpans(docs, "doc_id", "text",
        windowTokens = 4, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === Seq(("a b c d", 2L, 3L)), s"got ${rows.toSeq}")
  }

  test("decontaminateBloom: no false negatives vs exact decontaminate; " +
    "counts match at negligible fpp") {
    import spark.implicits._
    val docs  = Tables.documents(spark, sf("sf0.001"))
    val bench = Seq("key agg row scan", "batch window spark order").toDF("btext")
    val exact = CorpusPipeline.decontaminate(docs, "doc_id", "text",
        bench, "btext", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = persistedIds()
    val (flagged, release) = CorpusPipeline.decontaminateBloom(docs, "doc_id", "text",
        bench, "btext", n = 3, fpp = 1e-6)
    val cut = graft.state.Checkpoints.stableThenRelease(flagged, release)
    assert(persistedSince(before, cut).isEmpty, "the reference-gram cache outlived the call")
    val bloom = cut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every exactly-contaminated doc present with at least its true count
    exact.foreach { case (id, c) =>
      assert(bloom.contains(id) && bloom(id) >= c, s"doc $id lost: $c vs ${bloom.get(id)}")
    }
    // at fpp 1e-6 over this gram volume, expected false positives ~0
    assert(bloom === exact, "bloom should equal exact at negligible fpp")
  }

  test("curate dup-span gate drops a partial copy that survives near-dup") {
    import spark.implicits._
    // P = a 20-token paragraph embedded verbatim in docs 1 and 2.
    // Doc 1 is long (60 tokens): dup-window share 13/53 ≈ 0.25.
    // Doc 2 is mostly P (24 tokens): share 13/17 ≈ 0.76.
    // Their whole-document Jaccard is far below 0.8, so near-dup
    // keeps both — only the span gate catches the partial copy.
    val p = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, ((1 to 20).map(i => s"a$i") ++ Seq(p) ++
        (21 to 40).map(i => s"a$i")).mkString(" ")),
      (2L, s"b1 b2 $p b3 b4"),
      (3L, (1 to 30).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val gates = CorpusPipeline.QualityGates(minTokens = 1, minAlphaRatio = 0.0,
      maxPunctRatio = 1.0, minStopwordRatio = 0.0, maxTopBigramFrac = 1.0,
      minDistinctTokenRatio = 0.0)
    val (out, report) = CorpusPipeline.curate(docs, langs = Seq("und"),
      gates = gates, dupSpanOpt = Some((8, 0.5)))
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(report("after_near_dedup") === 3L, "near-dup must keep all three")
    assert(report("after_dup_span") === 2L)
    assert(kept === Set(1L, 3L), s"got $kept")
  }

  test("curate classifier gate keeps only docs predicted into keepLabels; " +
    "DSIR stage keeps the topK highest-weighted survivors") {
    import spark.implicits._
    // reference: 'good' docs speak apples, 'bad' docs speak spam
    val ref = Seq(
      (101L, "good", "apple orchard harvest apple cider season"),
      (102L, "good", "fresh apple pie orchard recipe notes"),
      (103L, "bad", "spam offer click spam winner prize"),
      (104L, "bad", "click here spam free offer now")).toDF("doc_id", "label", "text")
    val docs = Seq(
      (1L, "apple orchard season notes today friends"),   // good-ish
      (2L, "spam click prize offer winner banner today"), // bad-ish
      (3L, "apple cider recipe harvest weekend morning"), // good-ish
      (4L, "orchard pie fresh morning delivery route")    // good-ish
    ).toDF("doc_id", "text")
    val gates = CorpusPipeline.QualityGates(minTokens = 1, minAlphaRatio = 0.0,
      maxPunctRatio = 1.0, minStopwordRatio = 0.0, maxTopBigramFrac = 1.0,
      minDistinctTokenRatio = 0.0)
    val (out, report) = CorpusPipeline.curate(docs, langs = Seq("und"),
      gates = gates,
      classifierOpt = Some((ref, "label", Set("good"))))
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(2L), s"spam-vocabulary doc must drop, kept=$kept")
    assert(report("after_classifier") === kept.size.toLong)
    assert(report("after_lm") === 4L)

    // DSIR selection: target = apple-vocabulary docs; top-2 by weight
    // must be apple-leaning survivors
    val (out2, report2) = CorpusPipeline.curate(docs, langs = Seq("und"),
      gates = gates,
      dsirOpt = Some((ref.filter($"label" === "good").select("doc_id", "text"), 2)))
    val kept2 = out2.select("doc_id").as[Long].collect().toSet
    assert(report2("after_dsir") === 2L)
    assert(kept2.subsetOf(Set(1L, 3L, 4L)),
      s"top-2 DSIR picks must be target-leaning: $kept2")
  }

  test("dup-span family invariants on a randomized corpus: fraction in " +
    "[0,1], occurrence/doc-count bounds, and the cross-operator identity " +
    "sum(n_dup_windows) == sum(n_occurrences over dup spans)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e") // tiny vocab forces collisions
    val docs = (1L to 60L).map(i =>
      (i, Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val w = 4
    val spans = CorpusPipeline.duplicateSpans(docs, "doc_id", "text",
        windowTokens = w, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (fracOut, release) = CorpusPipeline.duplicateSpanFraction(docs, "doc_id", "text",
        windowTokens = w, minDocs = 2)
    val fracs = try fracOut.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    finally release()
    assert(spans.nonEmpty, "tiny vocab must generate cross-doc duplicates")
    spans.foreach { case (s, nd, no) =>
      assert(nd >= 2 && no >= nd, s"span '$s': n_docs=$nd n_occ=$no")
      assert(s.split(" ").length === w, s"span '$s' must be exactly $w tokens")
    }
    fracs.foreach { case (id, nw, ndw, f) =>
      assert(nw > 0 && ndw >= 0 && ndw <= nw, s"doc $id: $ndw/$nw")
      assert(f >= 0.0 && f <= 1.0, s"doc $id fraction $f")
    }
    // every window of a dup span is counted exactly once in some doc's
    // n_dup_windows — the two operators must agree on the total
    assert(fracs.map(_._3).sum === spans.map(_._3).sum,
      "sum of per-doc dup windows must equal total dup-span occurrences")
  }

  test("duplicateSpanFraction: per-doc dup window share, windowless docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d x"),   // windows: "a b c d", "b c d x" -> 1 of 2 dup
      (2L, "a b c d"),     // 1 window, dup -> fraction 1.0
      (3L, "p q r s t"),   // 2 windows, none dup -> 0.0
      (4L, "a b")).toDF("doc_id", "text")
    val before = persistedIds()
    val (fracs, release) = CorpusPipeline.duplicateSpanFraction(docs, "doc_id", "text",
        windowTokens = 4, minDocs = 2)
    val cut = graft.state.Checkpoints.stableThenRelease(fracs, release)
    assert(persistedSince(before, cut).isEmpty, "the span cache outlived the release")
    val out = cut.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 1L, 0.5)))
    assert(out(2L) === ((1L, 1L, 1.0)))
    assert(out(3L) === ((2L, 0L, 0.0)))
    assert(!out.contains(4L), "doc shorter than the window has no row")
  }

  test("removeDuplicateSpans: overlapping dup windows merge into maximal " +
    "spans; case-folded match, original-case excision, full-dup -> empty") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two d1 d2 d3 d4 three"),  // dup region d1..d4 mid-doc
      (2L, "d1 d2 d3 d4 extra2"),         // same region at doc start
      (3L, "z1 z2 z3"),                   // exact dup of doc 4
      (4L, "z1 z2 z3"),
      (5L, "a b"),                        // shorter than the window
      (6L, "  c1   c2 "),                 // whitespace normalization only
      (7L, "D1 D2 D3 tail7a Tail7b"))     // case-folded match, case kept
      .toDF("doc_id", "text")
    val out = CorpusPipeline.removeDuplicateSpans(docs, "doc_id", "text",
        windowTokens = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc1: windows "d1 d2 d3" (start 3) + "d2 d3 d4" (start 4) are both
    // duplicated -> covered positions {3,4,5,6} merge into ONE maximal span
    assert(out(1L) === (("one two three", 7L, 4L)))
    assert(out(2L) === (("extra2", 5L, 4L)))
    assert(out(3L) === (("", 3L, 3L)), "fully duplicated doc -> empty text")
    assert(out(4L) === (("", 3L, 3L)))
    assert(out(5L) === (("a b", 2L, 0L)), "windowless doc passes through")
    assert(out(6L) === (("c1 c2", 2L, 0L)), "rebuild is whitespace-normalized")
    assert(out(7L) === (("tail7a Tail7b", 5L, 3L)),
      "match is case-folded but surviving tokens keep their case")
    assert(out.size === 7, "every input doc yields exactly one row")
  }

  test("semanticDedup: LSH-blocked clusters == exact quadratic ground truth; " +
    "keepers are cluster minima") {
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val labels = CorpusPipeline.semanticDedupLabels(
      embs, "vec_id", "embedding", threshold = 0.45)
    // ground truth: exact quadratic cosine pairs -> min-label components
    val exactPairs = graft.dedup.NearDup.cosineDupPairs(
      embs, "vec_id", "embedding", threshold = 0.45).select("id_a", "id_b")
    val nodes = exactPairs.select(col("id_a").as("node"))
      .unionByName(exactPairs.select(col("id_b").as("node"))).distinct()
    val truth = CorpusPipeline.minLabelComponents(nodes, exactPairs)
      .filter(col("node") =!= col("label"))
      .select(col("node").as("vec_id"), col("label").as("kept_id"))
    assert(labels.count() > 0, "fixture must contain at least one semantic dup")
    assert(labels.exceptAll(truth).count() === 0 &&
      truth.exceptAll(labels).count() === 0,
      "blocked path must equal exact ground truth at full-recall parameters")
    // applying the mapping keeps everything except the dropped ids
    val kept = CorpusPipeline.semanticDedupDrop(
      embs, "vec_id", "embedding", threshold = 0.45)
    assert(kept.count() === embs.count() - labels.count())
    // a dropped row's keeper must itself be kept (labels point at roots)
    val danglingKeepers = labels.select(col("kept_id").as("vec_id"))
      .distinct().join(kept, Seq("vec_id"), "left_anti")
    assert(danglingKeepers.count() === 0, "every keeper survives the drop")
  }

  test("curate semantic stage: embedding dups of surviving docs dropped, " +
    "no over-threshold pair remains among survivors with embeddings") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val (out, report) = CorpusPipeline.curate(
      docs, langs = Seq("en", "zh"),
      gates = CorpusPipeline.QualityGates(
        minTokens = 5, minAlphaRatio = 0.3, maxPunctRatio = 0.5, minStopwordRatio = 0.0),
      semanticOpt = Some(CorpusPipeline.SemanticDedup(embs, "vec_id", "embedding", 0.45)))
    assert(report("after_semantic_dedup") <= report("after_near_dedup"))
    assert(out.count() === report("final"))
    // survivors' embeddings contain no over-threshold pair: if two
    // survivors were cosine-dups they'd share a component and only one
    // could have been kept
    val aliveEmbs = embs.join(
      out.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    assert(aliveEmbs.count() > 0, "id domains must overlap or the stage is vacuous")
    val residual = graft.dedup.NearDup.cosineDupPairs(
      aliveEmbs, "vec_id", "embedding", threshold = 0.45)
    assert(residual.count() === 0, "no semantic dup pair among survivors")
  }

  test("incrementalSemanticDedup: audited vs an exact quadratic ground truth " +
    "on sf0.001 embeddings (quantize -> cosine vs corpus -> union-find)") {
    // the sf0.001 batch plus NULL/empty, id-sharing and corpus-id rows
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val corpus = embs.filter(col("vec_id") % 2 === 0)
    val odd  = embs.filter(col("vec_id") % 2 === 1)
    val (firstOdd, maxId) = odd.agg(min("vec_id"), max("vec_id")).as[(Long, Long)].head()
    val vecType = embs.schema("embedding").dataType
    val batch = odd.select("vec_id", "embedding").unionByName(Seq(
      // NULL and empty vectors
      odd.filter(col("vec_id") === firstOdd).select(
        lit(maxId + 2).as("vec_id"), lit(null).cast(vecType).as("embedding")),
      odd.filter(col("vec_id") === firstOdd).select(
        lit(maxId + 4).as("vec_id"), slice(col("embedding"), 1, 0).as("embedding")),
      // an empty vector sharing its id with a real batch row
      odd.filter(col("vec_id") === firstOdd).select(
        col("vec_id"), slice(col("embedding"), 1, 0).as("embedding")),
      // batch ids equal to corpus ids: a copy of corpus row 2, and the
      // negation of corpus row 4
      corpus.filter(col("vec_id") === 2).select(lit(0L).as("vec_id"), col("embedding")),
      corpus.filter(col("vec_id") === 4).select(lit(2L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    ).reduce(_ unionByName _))
    val state = graft.similarity.Ann.quantizeInt8(corpus, "vec_id", "embedding")
    val (admitted, newState, release) =
      CorpusPipeline.incrementalSemanticDedup(
        state, batch, "vec_id", "embedding", threshold = 0.45)
    val admittedRows = admitted.select(col("vec_id"),
        coalesce(size(col("embedding")), lit(-1)).as("n")).as[(Long, Int)]
      .collect().toSeq.sorted
    val stateIds = newState.select("vec_id").as[Long].collect().toSeq.sorted
    release()

    // independent ground truth in plain Scala: same IEEE quantization
    // formula, exact quadratic cosine (no LSH), union-find min-label
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "embedding").collect().toSeq.map { r =>
        r.getLong(0) -> Option(r.getSeq[Any](1)).map(_.map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
        }.toArray).orNull
      }
    def quant(v: Array[Double]): Array[Double] = {
      val s = v.map(math.abs).max
      if (s == 0) v.map(_ => 0.0) else v.map(x => math.floor(x / s * 127 + 0.5))
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    val corpusQ = rows(corpus).map { case (_, v) => quant(v) }
    val batchRows = rows(batch)
    val q = batchRows.collect { case (id, v) if v != null && v.nonEmpty => id -> quant(v) }.toMap
    val batchIds = q.keys.toSeq.sorted
    val rejCorpus = batchIds.filter(b => corpusQ.exists(c => cos(q(b), c) >= 0.45)).toSet
    val surv = batchIds.filterNot(rejCorpus)
    val parent = scala.collection.mutable.Map(surv.map(x => x -> x): _*)
    def find(x: Long): Long = {
      if (parent(x) != x) parent(x) = find(parent(x)); parent(x)
    }
    for {
      i <- surv.indices; j <- i + 1 until surv.length
      if cos(q(surv(i)), q(surv(j))) >= 0.45
    } {
      val (ra, rb) = (find(surv(i)), find(surv(j)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rejSelf = surv.filter(x => find(x) != x).toSet
    val kept = batchIds.toSet -- rejCorpus -- rejSelf
    assert(rejCorpus.nonEmpty && rejSelf.nonEmpty,
      "fixture must exercise both rejection paths")
    assert(rejCorpus.contains(0L), "the copy of corpus row 2 under corpus id 0 is rejected")
    assert(kept.contains(firstOdd), "the id shared with an empty vector is admitted")
    // a vector row is admitted iff its id is kept; a NULL/empty one
    // once, and once more when its id is also a kept vector row's
    val expected = batchRows.flatMap { case (id, v) =>
      val n = if (v == null) -1 else v.length
      if (n > 0) (if (kept(id)) Seq(id -> n) else Nil)
      else Seq(id -> n) ++ (if (kept(id)) Seq(id -> n) else Nil)
    }.sorted
    assert(admittedRows === expected)
    assert(stateIds === kept.toSeq.sorted)
  }

  test("semanticDecontaminate: flags == independent quadratic recompute on " +
    "sf0.001; bench side broadcast (no corpus shuffle before the match)") {
    val embs = Tables.embeddings(spark, sf("sf0.001"))
    val corpus = embs.filter(col("vec_id") % 97 =!= 0)
    val bench  = embs.filter(col("vec_id") % 97 === 0)
    val out = CorpusPipeline.semanticDecontaminate(
      corpus, "vec_id", "embedding", bench, "embedding", threshold = 0.3)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap

    // independent ground truth in plain Scala
    def vec(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
      }.toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    val bvecs = bench.select("vec_id", "embedding").collect().map(vec)
    val expected = corpus.select("vec_id", "embedding").collect().map { r =>
      r.getLong(0) -> bvecs.count(b => cos(vec(r), b) >= 0.3).toLong
    }.filter(_._2 > 0).toMap
    assert(expected.nonEmpty, "fixture must flag at least one row")
    assert(got === expected)

    // plan: the benchmark side is a broadcast nested-loop scan — the
    // corpus must not shuffle before matching
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast NL join, got:\n$plan")
  }

  test("incrementalSemanticDedup: NULL/empty vectors admitted unconditionally, " +
    "excluded from state; caller-owned corpus cache survives release") {
    // also: an in-batch chain, a row matching the corpus and the batch,
    // an id on an empty and a vector row, batch ids equal to corpus ids
    // 6-dim vectors: the corpus spans dims 0-1, the chain dims 2-3
    def v(xs: (Int, Double)*): Array[Float] = {
      val a = Array.fill(6)(0.0f); xs.foreach { case (i, x) => a(i) = x.toFloat }; a
    }
    def deg(d: Double) = math.toRadians(d)
    val corpus = Seq((0L, v(0 -> 1.0)), (2L, v(1 -> 1.0))).toDF("vec_id", "embedding")
    val state = graft.similarity.Ann.quantizeInt8(corpus, "vec_id", "embedding").persist()
    state.count()
    val batch = Seq(
      (1L, v(0 -> 1.0, 1 -> 0.01)),    // cosine ~0.99997 vs corpus 0 -> rejected
      (3L, v(0 -> -1.0, 1 -> 1.0)),    // no corpus match -> survivor, min of its pair
      (5L, v(0 -> -0.99, 1 -> 1.0)),   // batch-internal near-dup of 3 -> rejected
      (7L, Array.empty[Float]),        // no direction -> admitted unconditionally
      (9L, null.asInstanceOf[Array[Float]]),
      // a 3-row chain: 11~13 and 13~15 (cos 20°), 11 !~ 15 (cos 40°)
      (11L, v(2 -> 1.0)),
      (13L, v(2 -> math.cos(deg(20)), 3 -> math.sin(deg(20)))),
      (15L, v(2 -> math.cos(deg(40)), 3 -> math.sin(deg(40)))),
      // 21 matches corpus 0 (10°) AND batch row 23 (20° apart); 23 is
      // 30° from corpus 0, so with 21 rejected by the corpus 23 is kept
      (21L, v(0 -> math.cos(deg(10)), 1 -> math.sin(deg(10)))),
      (23L, v(0 -> math.cos(deg(30)), 1 -> math.sin(deg(30)))),
      // batch ids equal to corpus ids: 0 matches corpus 2, 2 is novel
      (0L, v(0 -> 0.01, 1 -> 1.0)),
      (2L, v(4 -> 1.0)),
      // one id on an empty row and on a novel vector row
      (31L, Array.empty[Float]),
      (31L, v(5 -> 1.0))
    ).toDF("vec_id", "embedding")
    val before = persistedIds()
    val (admitted, newState, release) =
      CorpusPipeline.incrementalSemanticDedup(
        state, batch, "vec_id", "embedding", threshold = 0.9)
    // the empty row of id 31 is admitted unconditionally AND through
    // its kept vector sibling's id, as the per-stage form did
    assert(admitted.select("vec_id").as[Long].collect().sorted.toSeq ===
      Seq(2L, 3L, 7L, 9L, 11L, 23L, 31L, 31L, 31L))
    assert(newState.select("vec_id").as[Long].collect().sorted.toSeq ===
      Seq(2L, 3L, 11L, 23L, 31L))
    release()
    assert(persistedSince(before).isEmpty,
      "the handle must free what the call cached")
    assert(state.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE,
      "release must not clobber a caller-owned corpus-state cache")
    state.unpersist()
  }

  test("admitBatch: the over-the-limit distributed branch admits exactly " +
    "what the driver-side union-find branch admits") {
    // a toy family: the payload IS the band-key list, and every
    // colliding pair verifies
    val corpus = Seq((Some(1L), Seq(10L)), (Some(2L), Seq(20L)),
      (None, Seq(30L))           // a NULL id colliding with 6 and 7: rejects nothing
    ).toDF("id", "keys")
    val batch = Seq(
      (5L, Seq(10L)),        // matches corpus 1
      (6L, Seq(10L, 30L)),   // matches corpus 1 and batch row 7
      (7L, Seq(30L)),        // its only partner is rejected: kept
      (8L, Seq(40L)),        // chain 8 - 9 - 11: 8 kept
      (9L, Seq(40L, 50L)),
      (11L, Seq(50L)),
      (2L, Seq(60L)),        // a corpus id, novel: kept
      (12L, null.asInstanceOf[Seq[Long]]),
      (8L, null.asInstanceOf[Seq[Long]]),  // shares id 8: admitted twice
      // collide with each other in two bands and join the chain above
      (16L, Seq(50L, 55L)),
      (17L, Seq(50L, 55L))
    ).toDF("id", "keys")
    def admit(limit: Long, idType: String) = {
      def typed(df: org.apache.spark.sql.DataFrame) = df.withColumn("id", col("id").cast(idType))
      val (admitted, newState, release) = CorpusPipeline.admitBatch(
        typed(corpus), typed(batch), "id", eligible = col("keys").isNotNull,
        state = Seq("keys" -> col("keys")), payload = "keys",
        bandRows = df => df.select(col("__id"), col("__p"), explode(col("__p")).as("__k")),
        verify = (_, _) => lit(true), smallEdgeLimit = limit)
      try (admitted.select(col("id").cast("string")).as[String].collect().sorted.toSeq,
        newState.select(col("id").cast("string")).as[String].collect().sorted.toSeq)
      finally release()
    }
    def strs(ids: Long*) = ids.map(_.toString).sorted
    val expected = (strs(2, 7, 8, 8, 8, 12), strs(2, 7, 8))
    assert(admit(100000L, "long") === expected)
    assert(admit(0L, "long") === expected)
    // string ids order lexicographically: "11" is the chain's minimum,
    // so 8 is rejected and its short row is admitted once
    val expectedStr = (strs(2, 7, 8, 11, 12), strs(2, 7, 11))
    assert(admit(100000L, "string") === expectedStr)
    assert(admit(0L, "string") === expectedStr)
    // the verified rows are 2 corpus matches and 9 self rows (16-17
    // collide twice), 10 distinct pairs: a limit of 10 fits the pairs
    // but not the rows, so it takes the distributed branch; the
    // rejected-id predicate holds every integral width
    for (t <- Seq("long", "int", "short", "byte"); limit <- Seq(100000L, 10L, 0L))
      assert(admit(limit, t) === expected, s"id type $t, smallEdgeLimit $limit")
    assert(admit(10L, "string") === expectedStr)
  }

  test("containmentScore: verbatim quote scores 1.0, disjoint doc 0.0, " +
    "multiplicity counts, short docs absent") {
    import spark.implicits._
    val bench = Seq("alpha beta gamma delta").toDF("btext")
    val docs = Seq(
      // all three of its 3-gram occurrences are benchmark grams
      (1L, "alpha beta gamma delta epsilon"),
      // no overlap at all
      (2L, "one two three four"),
      // the shared gram occurs TWICE — both occurrences count
      (3L, "alpha beta gamma x alpha beta gamma"),
      // shorter than n: no grams, absent from the output
      (4L, "alpha beta")).toDF("doc_id", "text")
    val out = CorpusPipeline.containmentScore(docs, "doc_id", "text",
      bench, "btext", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: grams = (a b g), (b g d), (g d e) — first two hit
    assert(out(1L) === ((3L, 2L, 0.666667)))
    assert(out(2L) === ((2L, 0L, 0.0)))
    // doc 3: 5 grams, the two "alpha beta gamma" occurrences hit
    assert(out(3L) === ((5L, 2L, 0.4)))
    assert(!out.contains(4L))
  }

  test("decontaminateSpans: benchmark quotes excise as maximal spans " +
    "(overlap merge), case-folded match cuts original-case tokens, " +
    "clean docs round-trip, fully-quoted docs empty not dropped") {
    import spark.implicits._
    val bench = Seq("alpha beta gamma delta epsilon").toDF("btext")
    val docs = Seq(
      // the 5-token bench item sits mid-text: its two overlapping
      // 4-token windows merge into one 5-position span
      (1L, "intro words Alpha Beta GAMMA delta epsilon outro tail"),
      // no contamination — byte-identical round trip
      (2L, "totally clean document here"),
      // the doc IS the bench item — empty, not dropped
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val out = CorpusPipeline.decontaminateSpans(docs, "doc_id", "text",
      bench, "btext", windowTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("intro words outro tail", 9L, 5L)))
    assert(out(2L) === (("totally clean document here", 4L, 0L)))
    assert(out(3L) === (("", 5L, 5L)))
  }

  test("nearDupClusterSizes: histogram over min-label clusters with the " +
    "singleton row computed as total minus clustered") {
    val docs = Seq(
      // cluster of 3 (identical text, Jaccard 1.0)
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      // cluster of 2
      (4L, "one two three four five six seven"),
      (5L, "one two three four five six seven"),
      // two singletons (one of them too short to shingle at all)
      (6L, "completely different content with many unique words here"),
      (7L, "xy zw")).toDF("doc_id", "text")
    val out = CorpusPipeline.nearDupClusterSizes(docs, "doc_id", "text",
      threshold = 0.8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === Map(
      3L -> ((1L, 3L)),
      2L -> ((1L, 2L)),
      1L -> ((2L, 2L))))
  }

  test("nearDupClusterSizes: a corpus with no duplicate pairs reports " +
    "one all-singleton row") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val out = CorpusPipeline.nearDupClusterSizes(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((1L, 2L, 2L)))
  }

  test("repeatSpectrum: hand-built corpus — identical 64-token twins " +
    "duplicate at every level, a 16-token shared prefix duplicates " +
    "exactly its in-range windows, short docs vanish from long levels") {
    // shared 64-token block w1..w64; doc3 = w1..w16 then 16 uniques
    val w = (1 to 64).map(i => s"w$i")
    val s64 = w.mkString(" ")
    val doc3 = (w.take(16) ++ (1 to 16).map(i => s"x$i")).mkString(" ")
    val docs = Seq(
      (1L, s64, "a"), (2L, s64, "a"), (3L, doc3, "b"))
      .toDF("doc_id", "text", "source")
    val out = CorpusPipeline.repeatSpectrum(docs, "doc_id", "text", "source")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // group a: twins — every position at every level is duplicated
    assert(out(("a", 8))  === ((2L, 114L, 114L, 1000000L)))
    assert(out(("a", 16)) === ((2L, 98L, 98L, 1000000L)))
    assert(out(("a", 32)) === ((2L, 66L, 66L, 1000000L)))
    assert(out(("a", 64)) === ((2L, 2L, 2L, 1000000L)))
    // group b: windows fully inside the shared 16-token prefix only —
    // 9 of 25 at w=8, 1 of 17 at w=16, 0 of 1 at w=32; no row at 64
    assert(out(("b", 8))  === ((1L, 25L, 9L, 360000L)))
    assert(out(("b", 16)) === ((1L, 17L, 1L, 58823L)))
    assert(out(("b", 32)) === ((1L, 1L, 0L, 0L)))
    assert(!out.contains(("b", 64)), "a 32-token doc has no 64-window")
    assert(out.size === 7)
  }

  test("memorizationScreen: eval windows counted against the train set " +
    "only, per-level counts and max window hand-verified, short and " +
    "non-overlapping eval docs report zeros") {
    val w = (1 to 40).map(i => s"w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),                                   // train, n=40
      (2L, (1 to 12).map(i => s"t$i").mkString(" ")),          // train, unique
      (31L, (w.take(16) ++ (1 to 4).map(i => s"y$i")).mkString(" ")), // eval
      (62L, (1 to 10).map(i => s"z$i").mkString(" ")),         // eval, unique
      (93L, "a b c d e"))                                      // eval, n=5
      .toDF("doc_id", "text")
    val out = CorpusPipeline.memorizationScreen(
        docs, "doc_id", "text", col("doc_id") % 31 === 0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getInt(6))).toMap
    // eval 31 (n=20): 8-windows 1..13, the 9 inside w1..w16 hit the
    // train doc; 16-windows 1..5, only i=1 (w1..w16) hits; no
    // 32-window fits -> max_dup_window = 16
    assert(out(31L) === ((20L, 9L, 1L, 0L, 0L, 16)))
    assert(out(62L) === ((10L, 0L, 0L, 0L, 0L, 0)))
    assert(out(93L) === ((5L, 0L, 0L, 0L, 0L, 0)))
    assert(out.size === 3, "train docs must not appear in the output")
  }

  test("repeat-family invariants on sf0.001: dup mass is monotone down " +
    "the levels (a duplicated 2w-window start is a duplicated w-window " +
    "start), and memorizationScreen's max_dup_window is consistent with " +
    "its own counts") {
    val docs = Tables.documents(spark, sf("sf0.001"))
      .filter(col("text").isNotNull)
    val spec = CorpusPipeline.repeatSpectrum(docs, "doc_id", "text", "source")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    for {
      ((g, w), (nPos, nDup)) <- spec
      nextLevel <- spec.get((g, w * 2))
    } {
      val (nPos2, nDup2) = nextLevel
      assert(nPos2 <= nPos, s"$g: positions must shrink with w")
      assert(nDup2 <= nDup,
        s"$g: dup mass must be monotone down the levels ($w -> ${w * 2})")
    }
    val mem = CorpusPipeline.memorizationScreen(
        docs, "doc_id", "text", col("doc_id") % 31 === 0)
      .collect()
    assert(mem.nonEmpty)
    mem.foreach { r =>
      val dups = Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val maxW = r.getInt(6)
      // counts monotone down the levels; max window names the deepest
      // nonzero level (0 iff all levels are zero)
      assert(dups.sliding(2).forall(p => p(1) <= p.head),
        s"doc ${r.getLong(0)}: window-hit counts must be monotone")
      val expected = Seq(64, 32, 16, 8).zip(dups.reverse)
        .collectFirst { case (w, c) if c > 0 => w }.getOrElse(0)
      assert(maxW === expected, s"doc ${r.getLong(0)}: max_dup_window")
    }
  }

  test("crossLingualPairs: cross-language cosine pairs only, unordered " +
    "lang-pair rollup with per-side distinct doc counts") {
    // unit-ish vectors: 1,2,5 colinear; 3 at cos~0.9 to them; 4
    // orthogonal to 1/2/5 and at cos~0.436 (< 0.45) to 3
    def vec(a: Float, b: Float) = Array(a, b, 0.0f, 0.0f)
    val embs = Seq(
      (1L, vec(1f, 0f)), (2L, vec(1f, 0f)), (3L, vec(0.9f, 0.43589f)),
      (4L, vec(0f, 1f)), (5L, vec(1f, 0f)))
      .toDF("vec_id", "embedding")
    val langs = Seq((1L, "en"), (2L, "es"), (3L, "de"), (4L, "en"),
      (5L, "en")).toDF("doc_id", "lang")
    val out = CorpusPipeline.crossLingualPairs(
        embs, "vec_id", "embedding", langs, "doc_id", "lang")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getAs[Double]("max_cos"), r.getAs[Double]("min_cos"))).toMap
    assert(out.size === 3)
    val (deEnPairs, deEnA, deEnB, deEnMax, _) = out(("de", "en"))
    assert((deEnPairs, deEnA, deEnB) === ((2L, 1L, 2L)))
    assert(deEnMax > 0.89 && deEnMax < 0.91)
    val (deEsPairs, deEsA, deEsB, _, _) = out(("de", "es"))
    assert((deEsPairs, deEsA, deEsB) === ((1L, 1L, 1L)))
    val (enEsPairs, enEsA, enEsB, enEsMax, enEsMin) = out(("en", "es"))
    assert((enEsPairs, enEsA, enEsB) === ((2L, 2L, 1L)))
    assert(enEsMax === 1.0 && enEsMin === 1.0)
  }

  test("chunkProvenance: a chunk shared across docs and repeated " +
    "within one clusters once with exact occurrence/provenance " +
    "counts and the lexicographic keep-first; singletons are absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),     // chunks: [a b c d], [e f g h]
      (2L, "a b c d x y z w"),     // chunks: [a b c d], [x y z w]
      (3L, "a b c d a b c d"))     // within-doc repeat of [a b c d]
      .toDF("doc_id", "text")
    val out = graft.pipelines.CorpusPipeline
      .chunkProvenance(docs, "doc_id", "text",
        chunkTokens = 4, overlap = 0)
      .collect()
    assert(out.length === 1, "only the shared chunk clusters")
    val r = out(0)
    assert(r.getLong(1) === 4L, "4 occurrences of 'a b c d'")
    assert(r.getLong(2) === 3L, "3 distinct provenance docs")
    assert((r.getLong(3), r.getLong(4)) === ((1L, 0L)),
      "keep-first = lexicographic (doc, chunk) min")
  }

  test("packAtomicNextFit: hand-walked next-fit boundaries, docs " +
    "never split, an oversize doc owns a pack alone and is counted") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // costs in id order: 4, 5, 3, 12, 2, 9 at packLen 10
    val docs = Seq(
      (10L, words(4)), (11L, words(5)), (12L, words(3)),
      (13L, words(12)), (14L, words(2)), (15L, words(9)))
      .toDF("doc_id", "text")
    val out = graft.pipelines.CorpusPipeline
      .packAtomicNextFit(docs, "doc_id", "text",
        packLen = 10L, nShards = 1)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toMap
    assert(out === Map(
      0L -> ((2L, 9L, 0L)),   // 4 + 5 fits, 3 would overflow
      1L -> ((1L, 3L, 0L)),   // 3 alone (12 won't fit after it)
      2L -> ((1L, 12L, 1L)),  // the oversize doc owns its pack
      3L -> ((1L, 2L, 0L)),   // 2 alone (9 would overflow)
      4L -> ((1L, 9L, 0L))))
  }

  test("packBestFitDecreasing: hand-walked BFD placement, oversize " +
    "doc owns a pack alone, waste column is exact, and BFD waste " +
    "beats next-fit on the same fixture") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // costs in id order: 6, 5, 4, 3, 2, 12 at packLen 10.
    // BFD walk (desc: 12, 6, 5, 4, 3, 2):
    //   12 -> pack0 (oversize, alone); 6 -> pack1; 5: 6+5>10 -> pack2;
    //   4 -> best fit pack1 (6+4=10); 3 -> pack2 (5+3=8);
    //   2 -> best fit pack2 (8+2=10)
    val docs = Seq(
      (10L, words(6)), (11L, words(5)), (12L, words(4)),
      (13L, words(3)), (14L, words(2)), (15L, words(12)))
      .toDF("doc_id", "text")
    val bfd = graft.pipelines.CorpusPipeline
      .packBestFitDecreasing(docs, "doc_id", "text",
        packLen = 10L, nShards = 1)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toMap
    assert(bfd === Map(
      0L -> ((1L, 12L, 1L, 0L)), // oversize: alone, zero waste by contract
      1L -> ((2L, 10L, 0L, 0L)),
      2L -> ((3L, 10L, 0L, 0L))))
    // BFD waste <= next-fit waste on the same fixture (VERDICT r14 #4)
    val nf = graft.pipelines.CorpusPipeline
      .packAtomicNextFit(docs, "doc_id", "text",
        packLen = 10L, nShards = 1)
      .collect()
    val nfWaste = nf.map(r =>
      if (r.getLong(3) > 10L) 0L else 10L - r.getLong(3)).sum
    val bfdWaste = bfd.values.map(_._4).sum
    assert(bfdWaste <= nfWaste)
    assert(bfdWaste === 0L)
  }

  test("packBestFitDecreasing: equal-fill tie goes to the lowest " +
    "pack index") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // desc walk: 7 -> pack0; 7: 7+7>10 -> pack1; 2: both packs at
    // fill 7 fit — the LOWEST index (pack0) must take it
    val docs = Seq((1L, words(7)), (2L, words(7)), (3L, words(2)))
      .toDF("doc_id", "text")
    val out = graft.pipelines.CorpusPipeline
      .packBestFitDecreasing(docs, "doc_id", "text",
        packLen = 10L, nShards = 1)
      .collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out === Map(0L -> ((2L, 9L)), 1L -> ((1L, 7L))))
  }

  test("templateClusters: word-disjoint template mirrors collapse to " +
    "one layout cluster, keep-first accounting is exact, and a " +
    "singleton layout is absent") {
    import spark.implicits._
    val docs = Seq(
      // mirrors of one template: every WORD differs, layout identical
      (1L, "shop", "Price: 42 USD"),
      (2L, "store", "Total: 7 EUR"),
      // second template (all-lowercase two-word pages)
      (3L, "blog", "hello world"),
      (4L, "blog", "greeting planet"),
      // singleton layout -> filtered (n_docs < 2)
      (5L, "misc", "a1b2 only"))
      .toDF("doc_id", "source", "text")
    val out = graft.pipelines.CorpusPipeline
      .templateClusters(docs, "doc_id", "source", "text")
      .collect()
      .map(r => r.getLong(3) -> (r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
      .toMap // keyed by keeper_doc_id
    assert(out.keySet === Set(1L, 3L))
    // "Price: 42 USD" / "Total: 7 EUR" -> both "Xx: 9 X" (3 tokens)
    assert(out(1L) === ((2L, 2L, 6L, 3L)),
      "mirror cluster: 2 docs, 2 sources, 6 tokens, 3 beyond keeper")
    // the two-word lowercase docs share shape "x x"
    assert(out(3L) === ((2L, 1L, 4L, 2L)))
  }
}
