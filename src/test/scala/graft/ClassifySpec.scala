package graft

import graft.text.Classify
import org.apache.spark.sql.functions._

class ClassifySpec extends SparkSpec {
  import spark.implicits._

  /** JDK-side recomputation of the engine's md5 feature bucket. */
  private def bucketOf(g: String, buckets: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % buckets
  }

  test("naive bayes: hand-computed scores on a two-label fixture, " +
    "argmax picks the training label back") {
    // label a trains on {x x y}, label b on {y z}
    val docs = Seq(
      (1L, "a", "x x y"),
      (2L, "b", "y z")).toDF("doc_id", "label", "text")
    val model = Classify.trainNaiveBayes(docs, "label", "text")
    val out = Classify.scoreNaiveBayes(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getLong(3))))
      .toMap
    // V = 3 (x, y, z); T_a = 3, T_b = 2; priors ln(1/2) each
    // score(doc1, a) = ln(.5) + [2·ln(2+1) + ln(1+1)] − 3·ln(3+3)
    val d1a = math.log(0.5) + 2 * math.log(3.0) + math.log(2.0) - 3 * math.log(6.0)
    val d1b = math.log(0.5) + math.log(2.0) - 3 * math.log(5.0)
    assert(d1a > d1b)
    val (p1, s1, n1) = out(1L)
    assert(p1 === "a" && n1 === 3L)
    assert(math.abs(s1 - BigDecimal(d1a).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // doc2: score(b) = ln(.5) + ln(2) + ln(2) − 2·ln(5) ≈ −1.75
    //       score(a) = ln(.5) + ln(2) − 2·ln(6) ≈ −3.58
    assert(out(2L)._1 === "b")
  }

  test("naive bayes: zero-token doc scores on the prior alone; the " +
    "(score DESC, label ASC) tie-break is deterministic under equal priors") {
    val train = Seq(
      (1L, "b", "x y"),
      (2L, "a", "z w")).toDF("doc_id", "label", "text")
    val model = Classify.trainNaiveBayes(train, "label", "text")
    // '###' normalizes to zero tokens: every token term vanishes and
    // both labels score exactly ln(1/2) — the tie falls to label 'a'
    val score = Seq((9L, "###")).toDF("doc_id", "text")
    val out = Classify.scoreNaiveBayes(score, "doc_id", "text", model).collect()
    assert(out.length === 1)
    assert(out(0).getString(1) === "a")
    assert(out(0).getLong(3) === 0L)
    assert(math.abs(out(0).getDouble(2) - BigDecimal(math.log(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("naive bayes: a label whose docs normalize to zero tokens still " +
    "gets a class row (T_l = 0) and never NaNs the scores") {
    val train = Seq(
      (1L, "real", "x y z"),
      (2L, "ghost", "???")).toDF("doc_id", "label", "text")
    val model = Classify.trainNaiveBayes(train, "label", "text")
    assert(model.classes.count() === 2)
    val out = Classify.scoreNaiveBayes(train, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("dsirWeights: target-typical docs weigh higher than off-target " +
    "docs, and the weight matches an independent JDK recomputation") {
    val buckets = 64
    val docs = Seq(
      (1L, "en", "alpha beta alpha beta"),
      (2L, "en", "alpha beta gamma"),
      (3L, "de", "zeta eta theta"),
      (4L, "de", "alpha beta")).toDF("doc_id", "lang", "text")
    val target = docs.filter(col("lang") === "en")
    val out = Classify.dsirWeights(docs, target, "doc_id", "text", buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)

    // independent recomputation: features = unigrams + bigrams
    def feats(text: String): Seq[Long] = {
      val t = text.split(" ").toSeq
      val unis = t
      val bis = t.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      (unis ++ bis).map(bucketOf(_, buckets))
    }
    val all = Map(1L -> "alpha beta alpha beta", 2L -> "alpha beta gamma",
      3L -> "zeta eta theta", 4L -> "alpha beta")
    val rawCount = all.values.flatMap(feats).groupBy(identity).view.mapValues(_.size).toMap
    val tgtCount = Seq(all(1L), all(2L)).flatMap(feats).groupBy(identity).view.mapValues(_.size).toMap
    val nr = rawCount.values.sum
    val nt = tgtCount.values.sum
    val expected = all.map { case (id, text) =>
      val fs = feats(text)
      val s = fs.map(b => math.log(tgtCount.getOrElse(b, 0) + 1.0) -
        math.log(rawCount.getOrElse(b, 0) + 1.0)).sum
      val w = s + fs.size * (math.log(nr.toDouble + buckets) - math.log(nt.toDouble + buckets))
      id -> ((fs.size.toLong, BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    out.foreach { case (id, n, w) =>
      val (en, ew) = expected(id)
      assert(n === en, s"doc $id n_features")
      assert(math.abs(w - ew) < 1e-6, s"doc $id weight: got $w want $ew")
    }
    // the English-vocabulary docs must out-weigh the pure-German one
    val byId = out.map(r => r._1 -> r._3).toMap
    assert(byId(1L) > byId(3L) && byId(2L) > byId(3L))
    // doc 4 shares the target vocabulary — also above the off-target doc
    assert(byId(4L) > byId(3L))
  }

  test("char-ngram naive bayes: trigrams carry multiplicity, scoring " +
    "separates labels by character statistics, short docs score on the " +
    "prior") {
    val train = Seq(
      (1L, "aa", "sss ssss sss"),   // trigram mass on 's' runs
      (2L, "bb", "ttt tttt ttt")).toDF("doc_id", "label", "text")
    val model = Classify.trainNaiveBayesChar(train, "label", "text")
    // multiplicity: 'sss ssss sss' normalizes to itself; trigrams
    // include 'sss' three+ times — tokenLogs must reflect counts > 1
    val sssCount = model.tokenLogs.count()
    assert(sssCount > 0)
    val out = Classify.scoreNaiveBayesChar(
      Seq((10L, "ss sss s"), (11L, "tt ttt t"), (12L, "x")).toDF("doc_id", "text"),
      "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(out(10L)._1 === "aa")
    assert(out(11L)._1 === "bb")
    // 'x' has no trigrams: n_features 0, prior-only tie → label asc
    assert(out(12L) === (("aa", 0L)))
  }

  test("min-df model floor: near-hapax pairs drop from tokenLogs, " +
    "T_l/V stay pre-floor (log_denom unchanged), retained pairs score " +
    "identically, and label separation is preserved") {
    // 'commonword' repeats (survives any floor ≤ 3); each doc also
    // carries a hapax that a floor of 2 must drop
    val train = Seq(
      (1L, "aa", "alpha alpha alpha rarex"),
      (2L, "aa", "alpha alpha rarey"),
      (3L, "bb", "bravo bravo bravo rarez"),
      (4L, "bb", "bravo bravo rarew")).toDF("doc_id", "label", "text")
    val full = Classify.trainNaiveBayes(train, "label", "text")
    val floored = Classify.trainNaiveBayes(train, "label", "text",
      minPairCount = 2)
    // the floor actually removed the hapax rows…
    assert(floored.tokenLogs.count() < full.tokenLogs.count())
    // …but the class scalars are bit-identical (T_l, V pre-floor)
    def cls(m: Classify.NbModel) = m.classes.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(cls(floored) === cls(full))
    // retained (label, token) pairs carry the same log(c+1)
    val fullLogs = full.tokenLogs.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    floored.tokenLogs.collect().foreach { r =>
      assert(fullLogs((r.getLong(0), r.getString(1))) === r.getDouble(2))
    }
    // label separation preserved: the signature words still classify
    val test = Seq((10L, "alpha alpha"), (11L, "bravo")).toDF("doc_id", "text")
    val preds = Classify.scoreNaiveBayes(test, "doc_id", "text", floored)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds === Map(10L -> "aa", 11L -> "bb"))
  }

  test("distinctiveTerms: the group's signature word ranks first and " +
    "the z matches an independent JDK recomputation of the Monroe " +
    "et al. formula") {
    val docs = Seq(
      (1L, "a", "apple apple apple shared shared"),
      (2L, "a", "apple shared"),
      (3L, "b", "banana banana shared shared"),
      (4L, "b", "banana shared")).toDF("doc_id", "label", "text")
    val out = Classify.distinctiveTerms(docs, "label", "text", k = 3,
      priorMass = 10.0)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val byGroup = out.groupBy(_._1).view.mapValues(_.sortBy(-_._5)).toMap
    assert(byGroup("a").head._2 === "apple")
    assert(byGroup("b").head._2 === "banana")

    // independent recomputation for (a, apple): ygw=4, yw=4, ng=7,
    // N=13, a0=10
    val n = 13.0; val a0 = 10.0
    val aw = a0 * 4.0 / n
    val yrest = 0.0; val nrest = n - 7.0
    val dlt = math.log((4.0 + aw) / (7.0 + a0 - 4.0 - aw)) -
      math.log((yrest + aw) / (nrest + a0 - yrest - aw))
    val z = dlt / math.sqrt(1.0 / (4.0 + aw) + 1.0 / (yrest + aw))
    val expected = BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = out.find(r => r._1 == "a" && r._2 == "apple").get
    assert(got._3 === 4L && got._4 === 4L)
    assert(math.abs(got._5 - expected) < 1e-9, s"z ${got._5} want $expected")
    // 'shared' appears everywhere at matched rates — |z| far below the
    // signature words in both groups
    val sharedZ = out.filter(_._2 == "shared").map(_._5)
    assert(sharedZ.forall(s => math.abs(s) < byGroup("a").head._5))
  }

  test("distinctiveTerms: bounded-heap form ≡ window-rank form on a " +
    "skewed fixture where one group holds ~90% of the vocabulary " +
    "(ties, k larger than a small group's vocab, single-word group)") {
    // group "big": 180 distinct words (w000..w179, frequencies varying
    // so z ties occur among same-count words); "small": 19 words;
    // "tiny": 1 word — k=25 exceeds both small groups' vocabularies
    val bigDocs = (0 until 180).grouped(12).zipWithIndex.map {
      case (ws, i) =>
        (i.toLong, "big",
          ws.map(w => (f"w$w%03d " * (1 + w % 3)).trim).mkString(" "))
    }.toSeq
    val smallDocs = Seq(
      (1000L, "small", (0 until 19).map(w => f"s$w%02d").mkString(" ")),
      (1001L, "small", "s00 s01 s02"),
      (1002L, "tiny", "lone lone lone"))
    val docs = (bigDocs ++ smallDocs).toDF("doc_id", "label", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val heap = rows(Classify.distinctiveTerms(docs, "label", "text",
      k = 25, priorMass = 50.0))
    val win = rows(Classify.distinctiveTermsWindowed(docs, "label", "text",
      k = 25, priorMass = 50.0))
    assert(heap === win)
    // the skew actually exists: big contributes 25 rows (capped), the
    // small groups all of theirs
    val perGroup = heap.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perGroup === Map("big" -> 25, "small" -> 19, "tiny" -> 1))
  }

  test("trainScoreSelfChar: fused path ≡ separate train+score on a " +
    "fixture with empty, NULL, and sub-n-gram docs, floored and not") {
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog repeatedly"),
      (2L, "en", "another english sentence with the usual small words"),
      (3L, "de", "der schnelle braune fuchs springt immer wieder"),
      (4L, "de", "noch ein deutscher satz mit den ueblichen woertern"),
      (5L, "en", ""),                          // zero grams -> prior only
      (6L, "de", null.asInstanceOf[String]),   // NULL text -> prior only
      (7L, "en", "ab"))                        // shorter than n=3
      .toDF("doc_id", "lang", "text")
    for (floor <- Seq(1, 2)) {
      val model = Classify.trainNaiveBayesChar(docs, "lang", "text",
        minPairCount = floor)
      val want = Classify.scoreNaiveBayesChar(docs, "doc_id", "text", model)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getDouble(2), r.getLong(3)))).toMap
      val got = Classify.trainScoreSelfChar(docs, "lang", "doc_id", "text",
        minPairCount = floor)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getDouble(2), r.getLong(3)))).toMap
      assert(got === want, s"floor=$floor")
    }
  }

  test("dsirWeights: every corpus doc gets a row; feature-free docs " +
    "carry weight 0.0") {
    val docs = Seq(
      (1L, "en", "alpha beta"),
      (2L, "de", "...")).toDF("doc_id", "lang", "text")
    val out = Classify.dsirWeights(docs, docs.filter(col("lang") === "en"),
      "doc_id", "text", 64)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(2L) === ((0L, 0.0)))
  }

  test("confusionReport: hand-computed marginals — precision drains " +
    "through a predicted-only label, never-predicted truth class gets " +
    "NULL precision/F1 and zero recall") {
    import spark.implicits._
    // truth en: predicted en, en; truth de: predicted en (miss), de;
    // truth fr: predicted und (never a truth label)
    val rows = Seq(("en", "en"), ("en", "en"), ("de", "en"),
      ("de", "de"), ("fr", "und")).toDF("lang", "lang_pred")
    val out = Classify.confusionReport(rows, "lang", "lang_pred")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getAs[Any]("precision")),
          r.getAs[Double]("recall"), Option(r.getAs[Any]("f1"))))).toMap
    assert(out("en") === ((2L, 2L, Some(0.666667), 1.0, Some(0.8))))
    assert(out("de") === ((2L, 1L, Some(1.0), 0.5, Some(0.666667))))
    assert(out("fr") === ((1L, 0L, None, 0.0, None)))
    assert(!out.contains("und"), "predicted-only labels are not rows")
  }

  test("cohenKappa: hand-computed po/pe/kappa; total chance agreement " +
    "(one shared class) yields NULL kappa") {
    import spark.implicits._
    val rows = Seq(("en", "en"), ("en", "en"), ("de", "en"),
      ("de", "de"), ("fr", "und")).toDF("lang", "lang_pred")
    val r = Classify.cohenKappa(rows, "lang", "lang_pred").collect()(0)
    assert(r.getAs[Long]("n_docs") === 5L)
    assert(r.getAs[Long]("n_agree") === 3L)
    assert(r.getAs[Double]("po") === 0.6)
    // pe = (2*3 + 2*1 + 0) / 25 = 0.32; kappa = 0.28/0.68
    assert(r.getAs[Double]("pe") === 0.32)
    assert(r.getAs[Double]("kappa") === 0.411765)
    val const = Seq(("a", "a"), ("a", "a")).toDF("t", "p")
    val c = Classify.cohenKappa(const, "t", "p").collect()(0)
    assert(Option(c.getAs[Any]("kappa")) === None)
  }

  test("cross-validated NB (the q261 composition): trivially separable " +
    "classes score accuracy 1.0 on every md5 fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1L to 24L).map { i =>
      if (i % 2 == 0) (i, "a", "alpha alpha beta")
      else (i, "b", "gamma gamma delta")
    }.toDF("doc_id", "lang", "text")
      .withColumn("__fold", (graft.operators.SplitOps.hashBucket(
        concat(col("doc_id").cast("string"), lit("|cv"))) % 3).cast("int"))
    val out = (0 until 3).map { f =>
      val train = docs.filter(col("__fold") =!= f)
      val test = docs.filter(col("__fold") === f)
      Classify.scoreNaiveBayes(test, "doc_id", "text",
        Classify.trainNaiveBayes(train, "lang", "text"))
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
        .agg(count(lit(1)).as("n"),
          sum((col("pred_label") === col("lang")).cast("long")).as("ok"))
        .select(lit(f).as("fold"), col("n"), col("ok"))
    }.reduce(_ unionByName _).collect()
    assert(out.map(_.getLong(1)).sum === 24L, "every doc scored once")
    out.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"fold ${r.getInt(0)} must be perfectly separable"))
  }

  test("naive bayes train, score and the fused path keep their job " +
    "counts and leave no cache behind, also when the evaluation or the " +
    "cut throws") {
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "de", "der schnelle braune fuchs springt"),
      (3L, "en", "another small english sentence"),
      (4L, "de", "noch ein deutscher satz"),
      (5L, "en", "")).toDF("doc_id", "lang", "text")
    // label and id strings the ANSI casts reject: the first job that
    // reads them throws
    val bad = docs
      .withColumn("lang", expr("CAST(concat('x', lang) AS INT)"))
      .withColumn("doc_id", expr("CAST(concat('x', doc_id) AS BIGINT)"))
    val wordModel = Classify.trainNaiveBayes(docs, "lang", "text")
    val charModel = Classify.trainNaiveBayesChar(docs, "lang", "text")
    def collected(o: org.apache.spark.sql.DataFrame) = { o.collect(); Seq(o) }
    // name, whether the call cuts, and its job count for one call (plus
    // a collect of a lazy result) with adaptive execution off, as
    // measured before the model build and the scoring were shared
    val ops: Seq[(String, Boolean, Int, org.apache.spark.sql.DataFrame =>
        Seq[org.apache.spark.sql.DataFrame])] = Seq(
      ("trainNaiveBayes", true, 5, { d =>
        val m = Classify.trainNaiveBayes(d, "lang", "text"); Seq(m.classes, m.tokenLogs) }),
      ("trainNaiveBayesChar", true, 5, { d =>
        val m = Classify.trainNaiveBayesChar(d, "lang", "text", minPairCount = 2)
        Seq(m.classes, m.tokenLogs) }),
      ("scoreNaiveBayes", false, 4, d =>
        collected(Classify.scoreNaiveBayes(d, "doc_id", "text", wordModel))),
      ("scoreNaiveBayesChar", false, 4, d =>
        collected(Classify.scoreNaiveBayesChar(d, "doc_id", "text", charModel))),
      ("trainScoreSelfChar", true, 11, d =>
        collected(Classify.trainScoreSelfChar(d, "lang", "doc_id", "text"))))
    val runs = ops.map { case (name, cuts, _, op) =>
      val before = persistedIds()
      val (out, jobs) = withoutAqe(jobsDuring(op(docs)))
      val leftOnSuccess = persistedSince(before, out: _*)
      val beforeBad = persistedIds()
      intercept[Exception](op(bad))
      val leftOnBadInput = persistedSince(beforeBad)
      val beforeCut = persistedIds()
      if (cuts) withFailingCuts(intercept[Exception](op(docs)))
      val leftOnFailedCut = persistedSince(beforeCut)
      (name, jobs.size, leftOnSuccess, leftOnBadInput, leftOnFailedCut)
    }
    info(s"jobs per call: ${runs.map(r => s"${r._1}=${r._2}").mkString(", ")}")
    val leaks = runs.collect { case (name, _, onSuccess, onBadInput, onFailedCut)
        if (onSuccess ++ onBadInput ++ onFailedCut).nonEmpty =>
      s"$name left RDDs $onSuccess on success, $onBadInput when its input threw, " +
        s"$onFailedCut when its cut threw"
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
    assert(runs.map(r => r._1 -> r._2) === ops.map { case (n, _, j, _) => n -> j })
  }
}
