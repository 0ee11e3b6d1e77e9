package graft

import graft.dedup.NearDup
import graft.expressions.SimilarityExpressions._
import graft.text.TextOps
import org.apache.spark.sql.functions._

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim expression: known values, float arrays") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f), 1.0 / math.sqrt(2)),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
      (Array(0.0f, 0.0f), Array(1.0f, 0.0f), 0.0) // zero norm => 0.0
    ).toDF("a", "b", "expected")
    val rows = df.select(cosine_sim(col("a"), col("b")).as("c"), col("expected")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("jaccard_sim expression: set semantics incl duplicates") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d"), 0.5),
      (Seq("a", "a", "b"), Seq("a", "b", "b"), 1.0), // distinct-element sets
      (Seq("a"), Seq("b"), 0.0)
    ).toDF("a", "b", "expected")
    val rows = df.select(jaccard_sim(col("a"), col("b")).as("j"), col("expected")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("expression edge semantics: length-mismatched cosine is NULL " +
    "(not a prefix estimate), empty-vs-empty jaccard is NULL (0/0), " +
    "a NULL shingle doesn't crash minhash_sig") {
    val cos = Seq((Array(1.0f, 1000.0f), Array(1.0f)))
      .toDF("a", "b").select(cosine_sim(col("a"), col("b"))).head()
    assert(cos.isNullAt(0), "prefix cosine of mismatched dims would be confidently wrong")
    val jac = Seq((Seq.empty[String], Seq.empty[String]))
      .toDF("a", "b").select(jaccard_sim(col("a"), col("b"))).head()
    assert(jac.isNullAt(0), "0/0 has no defined similarity")
    val sig = Seq(Seq(Some("a"), None, Some("b")))
      .toDF("sh").select(minhash_sig(col("sh"), 8)).head()
    assert(sig.getSeq[Long](0).length === 8, "null element tolerated like xxhash64")
    intercept[IllegalArgumentException](
      new graft.expressions.TopKAgg.TopK[Long](0))
  }

  test("cosine_sim and hyperplane_bands over integral arrays are " +
    "bit-identical to the cast-to-double composition") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 100).map { _ =>
      val d = 16 + rnd.nextInt(48)
      (Array.fill(d)(rnd.nextInt(255) - 127),
        Array.fill(d)(rnd.nextInt(255) - 127))
    }.toDF("qa", "qb")
    val asD = (c: org.apache.spark.sql.Column) =>
      transform(c, x => x.cast("double"))
    val cos = df.select(
      cosine_sim(col("qa"), col("qb")).as("direct"),
      cosine_sim(asD(col("qa")), asD(col("qb"))).as("viaCast")).collect()
    cos.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // mixed types: float query vs int codes evaluates (no exception)
    // and matches the cast form
    val mixed = (1 to 20).map { _ =>
      (Array.fill(8)(rnd.nextFloat()), Array.fill(8)(rnd.nextInt(255) - 127))
    }.toDF("f", "q")
    mixed.select(cosine_sim(col("f"), col("q")).as("direct"),
        cosine_sim(col("f"), asD(col("q"))).as("viaCast"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      }
    val hb = df.select(
      hyperplane_bands(col("qa"), 8, 6, 42L).as("direct"),
      hyperplane_bands(asD(col("qa")), 8, 6, 42L).as("viaCast")).collect()
    hb.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("sig_agree_count mirrors the zip_with/filter composition: " +
    "equal, disjoint, null elements, length mismatch") {
    val df = Seq(
      (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
      (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 5L, 6L)),
      (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, null, 3L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L, 3L)),
      (Seq[java.lang.Long](), Seq[java.lang.Long](1L))
    ).toDF("a", "b")
    val rows = df.select(
      sig_agree_count(col("a"), col("b")).as("m"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y),
        v => v)).as("ref")).collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
    assert(rows.map(_.getInt(0)).toSeq === Seq(3, 0, 2, 2, 0))
  }

  test("sigJaccardEst and the int8-code cosine equal plain-Scala " +
    "references: NULL arrays, NULL elements, length mismatches") {
    val rnd = new scala.util.Random(5)
    def sig(n: Int): Seq[java.lang.Long] = Seq.fill(n)(
      if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(3).toLong))
    val sigPairs = Seq((null, sig(8)), (sig(8), null)) ++
      (1 to 300).map(_ => (sig(6 + rnd.nextInt(3)), sig(6 + rnd.nextInt(3))))
    def agreeRef(a: Seq[java.lang.Long], b: Seq[java.lang.Long]): Option[Double] =
      if (a == null || b == null) None
      else Some(a.zip(b).count { case (x, y) => x != null && y != null && x == y }
        .toDouble / a.size)
    val est = sigPairs.toDF("a", "b")
      .select(NearDup.sigJaccardEst(col("a"), col("b"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(est.toSeq === sigPairs.map { case (a, b) => agreeRef(a, b) })
    assert(sigPairs.exists { case (a, b) => a != null && b != null && a.size != b.size })

    def codes(n: Int): Array[Int] = Array.fill(n)(rnd.nextInt(255) - 127)
    val codePairs = Seq((null, codes(8)), (codes(8), codes(9)), (Array.fill(8)(0), codes(8))) ++
      (1 to 300).map { _ => val d = 4 + rnd.nextInt(60); (codes(d), codes(d)) }
    def cosRef(a: Array[Int], b: Array[Int]): Option[Double] =
      if (a == null || b == null || a.length != b.length) None
      else {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i =>
          val (x, y) = (a(i).toDouble, b(i).toDouble)
          dot += x * y; na += x * x; nb += y * y
        }
        Some(if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0)
      }
    val cos = codePairs.toDF("a", "b")
      .select(NearDup.cosine(col("a"), col("b"))).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    cos.toSeq.zip(codePairs.map { case (a, b) => cosRef(a, b) }).foreach {
      case (Some(g), Some(w)) =>
        assert(java.lang.Double.doubleToRawLongBits(g) === java.lang.Double.doubleToRawLongBits(w))
      case (g, w) => assert(g === w)
    }
  }

  test("exactDedup keeps min id per content group with dup_count") {
    val df = Seq((1L, "same"), (5L, "same"), (3L, "same"), (2L, "unique"))
      .toDF("doc_id", "text")
    val out = NearDup.exactDedup(df, "doc_id", "text")
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 1L))
  }

  test("exactDedupNormalized: case/punctuation/whitespace variants " +
    "collapse; genuinely different text survives") {
    val df = Seq(
      (1L, "Hello, World!"),
      (4L, "hello   world"),
      (7L, "HELLO WORLD."),
      (2L, "hello there world"),
      (3L, "")).toDF("doc_id", "text")
    val out = NearDup.exactDedupNormalized(df, "doc_id", "text")
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    // plain exactDedup would NOT merge the variants
    assert(NearDup.exactDedup(df, "doc_id", "text").count() === 5)
  }

  test("exactDedup: NULL-text rows form one group (SQL GROUP BY " +
    "semantics), never silently dropped") {
    val df = Seq((5L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "x")).toDF("doc_id", "text")
    val out = NearDup.exactDedup(df, "doc_id", "text")
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out === Map(2L -> 2L, 3L -> 1L))
  }

  test("exactDedupBy: NULL digests never merge with a digest whose VALUE " +
    "is any sentinel-like string (arbitrary digest expressions)") {
    val df = Seq((1L, "NULL"), (2L, null.asInstanceOf[String]), (3L, "NULL"))
      .toDF("doc_id", "text")
    // digest = the raw column: a legitimate value "NULL" must not
    // collapse into the NULL-digest group
    val out = NearDup.exactDedupBy(df, "doc_id", col("text"))
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 2L, 2L -> 1L))
  }

  test("minhashLshPairs finds the high-jaccard pairs the brute force finds (sf0.001)") {
    val docs  = Tables.documents(spark, sf("sf0.001"))
    val brute = NearDup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = NearDup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 32, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh === brute, s"lsh=$lsh brute=$brute")
    assert(brute.nonEmpty, "test data should contain planted near-dups")
  }

  test("simhashPairs: near-identical docs collide, disjoint docs do not") {
    val base = "the quick brown fox jumps over the lazy dog again and again in the park"
    val df = Seq(
      (1L, base),
      (2L, base + " extra"),                       // tiny edit
      (3L, "completely different words about spark catalyst optimizer internals here")
    ).toDF("doc_id", "text")
    val pairs = NearDup.simhashPairs(df, "doc_id", "text", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("wordShingles: distinct n-grams, short text => empty") {
    val df = Seq("a b c d", "a b", "").toDF("t")
    val out = df.select(TextOps.wordShingles(col("t"), 3).as("s"))
      .as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq.empty)
    assert(out(2) === Seq.empty)
  }

  test("lshCosinePairs is a subset of exact pairs and finds near-identical vectors") {
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat))
    } :+ (100L, Array.tabulate(8)(j => math.sin(0 * 8 + j).toFloat * 1.001f))
    val df = vecs.toDF("vec_id", "embedding")
    val exact = NearDup.cosineDupPairs(df, "vec_id", "embedding", 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = NearDup.lshCosinePairs(df, "vec_id", "embedding", 0.999, nBits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((0L, 100L)), "scaled copy of v0 lands in same bucket")
  }

  test("incrementalDedup: batch admitted iff no near-dup in corpus or " +
    "earlier kept batch row; corpus text never needed") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different established document with many other words"))
      .toDF("doc_id", "text")
    val corpusSigs = NearDup.minhashSignatures(corpus, "doc_id", "text")
    val incoming = Seq(
      (10L, base + " lambda"),                         // near-dup of corpus 1 -> dropped
      (11L, "a genuinely novel incoming text nothing like the others one"),
      (12L, "a genuinely novel incoming text nothing like the others two"), // near-dup of 11 -> dropped
      (13L, "short"),                                  // sub-shingle-length -> admitted
      (14L, "yet another fully distinct new document about spark plans"),
      (15L, null.asInstanceOf[String]))                // NULL text -> admitted, never vanishes
      .toDF("doc_id", "text")
    val before = persistedIds()
    val (admitted, newSigs, release) = NearDup.incrementalDedup(
      corpusSigs, incoming, "doc_id", "text", threshold = 0.7)
    val ids = admitted.select("doc_id").as[Long].collect().toSet
    assert(ids === Set(11L, 13L, 14L, 15L))
    // appended signatures cover exactly the admitted signature-bearing rows
    assert(newSigs.select("doc_id").as[Long].collect().toSet === Set(11L, 14L))
    // idempotent admission: re-offering the batch against the grown
    // state admits nothing (13/15 have no signature and would re-admit
    // -- production keys short rows by exact digest; exclude them here)
    val grown = corpusSigs.unionByName(newSigs)
    val (again, _, releaseAgain) = NearDup.incrementalDedup(
      grown, incoming.filter(!$"doc_id".isin(13L, 15L)), "doc_id", "text", threshold = 0.7)
    assert(again.count() === 0)
    Seq(releaseAgain, release).foreach(_())
    assert(persistedSince(before).isEmpty,
      "the handles must free what the calls cached")

    // edge inputs against a plain-Scala replica of the admission rule:
    // a candidate shares a 4-perm band slice and verifies on signature
    // agreement; min-label union-find over the corpus survivors
    def words(from: Int, n: Int) = (from until from + n).map(i => s"t$i").mkString(" ")
    val corpus2 = Seq((1L, words(0, 20)), (2L, words(100, 20)), (3L, words(200, 20)))
      .toDF("doc_id", "text")
    val batch2 = Seq(
      (40L, words(300, 20)),  // head of a 3-row in-batch chain: kept
      (41L, words(300, 25)),  // near 40
      (42L, words(300, 30)),  // near 41, not near 40
      (30L, words(0, 24)),    // near corpus 1
      (31L, words(0, 28)),    // near 30 but not corpus 1: 30 is rejected, so 31 is kept
      (2L, words(100, 22)),   // a corpus id, near corpus 2
      (3L, words(500, 20)),   // a corpus id, novel
      (50L, "too short"),     // short row sharing its id with ...
      (50L, words(600, 20)),  // ... a novel long row
      (51L, ""),
      (52L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      NearDup.minhashSignatures(df, "doc_id", "text").as[(Long, Seq[Long])].collect().toMap
    val (cs, bs) = (sigsOf(corpus2), sigsOf(batch2))
    def near(a: Seq[Long], b: Seq[Long]) =
      a.grouped(4).zip(b.grouped(4)).exists { case (x, y) => x == y } &&
        a.zip(b).count { case (x, y) => x == y }.toDouble / a.size >= 0.7
    val hits = bs.keySet.filter(b => cs.values.exists(near(bs(b), _)))
    val surv = (bs.keySet -- hits).toSeq.sorted
    val selfEdges = for {
      i <- surv.indices; j <- i + 1 until surv.size if near(bs(surv(i)), bs(surv(j)))
    } yield (surv(i), surv(j))
    val root = scala.collection.mutable.Map(surv.map(x => x -> x): _*)
    def find(x: Long): Long = if (root(x) == x) x else { root(x) = find(root(x)); root(x) }
    selfEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) root(math.max(ra, rb)) = math.min(ra, rb)
    }
    val rejected = hits ++ surv.filter(x => find(x) != x)
    // the fixture must exercise every case it names
    assert(hits === Set(30L, 2L), s"corpus matches: $hits")
    assert(selfEdges.toSet === Set((40L, 41L), (41L, 42L)), s"self edges: $selfEdges")
    assert(near(bs(30L), bs(31L)) && !near(bs(31L), cs(1L)))
    // an eligible row is admitted iff its id is not rejected; a short
    // row once, and once more when an admitted long row shares its id
    val expected = batch2.as[(Long, String)].collect().toSeq.flatMap { case (id, text) =>
      if (bs.contains(id) && text != null && text.trim.split("\\s+").length >= 3)
        (if (rejected(id)) Nil else Seq(id -> text))
      else Seq(id -> text) ++ (if (bs.contains(id) && !rejected(id)) Seq(id -> text) else Nil)
    }
    val (admitted2, newSigs2, release2) = NearDup.incrementalDedup(
      corpusSigs = NearDup.minhashSignatures(corpus2, "doc_id", "text"),
      batch2, "doc_id", "text", threshold = 0.7)
    def sorted(rows: Seq[(Long, String)]) = rows.sortBy { case (i, t) => (i, String.valueOf(t)) }
    assert(sorted(admitted2.as[(Long, String)].collect().toSeq) === sorted(expected))
    assert(sorted(expected).map(_._1) ===
      Seq(3L, 31L, 40L, 50L, 50L, 50L, 51L, 52L))
    assert(newSigs2.select("doc_id").as[Long].collect().sorted.toSeq ===
      bs.keySet.filterNot(rejected).toSeq.sorted)
    release2()
  }

  test("one-shot incrementalDedup / incrementalSemanticDedup return " +
    "outputs already checkpointed when the call returns, under reliable " +
    "checkpoints (where a lazy cut would run after the release)") {
    def cut(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.getOrElse(fail(s"not a checkpointed frame:\n${df.queryExecution.analyzed}"))
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta zeta"))
      .toDF("doc_id", "text")
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    import graft.state.Checkpoints.stable
    val flag = graft.state.Checkpoints.ReliableFlag
    val dir = tempDir("oneshot_ckpt")
    org.apache.spark.SpecSparkInternals.withCheckpointDir(spark.sparkContext, dir.toString) {
      spark.conf.set(flag, "true")
      try {
        val (lazyAdmitted, lazySigs, release) = NearDup.incrementalDedup(
          NearDup.minhashSignatures(docs.limit(0), "doc_id", "text"), docs, "doc_id", "text")
        val (admitted, newSigs) =
          try (stable(lazyAdmitted), stable(lazySigs)) finally release()
        assert(cut(admitted).isCheckpointed && cut(newSigs).isCheckpointed)
        val (lazySemAdmitted, lazySemState, semRelease) =
          graft.pipelines.CorpusPipeline.incrementalSemanticDedup(
            graft.similarity.Ann.quantizeInt8(vecs.limit(0), "vec_id", "embedding"),
            vecs, "vec_id", "embedding", threshold = 0.9)
        val (semAdmitted, semState) =
          try (stable(lazySemAdmitted), stable(lazySemState)) finally semRelease()
        assert(cut(semAdmitted).isCheckpointed && cut(semState).isCheckpointed)
        assert(admitted.count() === 2 && semAdmitted.count() === 2)
      } finally spark.conf.unset(flag)
    }
  }

  test("exactDedupNfc: precomposed and combining-mark spellings collapse, " +
    "ASCII lookalike stays distinct, NULL survives") {
    val docs = Seq(
      (1L, "café menu"),          // precomposed é
      (2L, "café menu"),         // e + combining acute: same NFC
      (3L, "cafe menu"),               // ASCII — different text
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val kept = NearDup.exactDedupNfc(docs, "doc_id", "text")
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(kept === Map(1L -> 2L, 3L -> 1L, 4L -> 1L),
      "composed/decomposed must merge under the min id; ASCII and NULL stay")
    // the normalizer itself: decomposed -> composed bytes, ASCII untouched
    val norm = docs.select(
      graft.expressions.TextExpressions.nfc_normalize($"text").as("n"))
      .as[String].collect()
    assert(norm(0) === "café menu" && norm(1) === "café menu")
    assert(norm(2) === "cafe menu" && norm(3) === null)
  }

  test("cross-split leakage audit (q106 composition) == exact quadratic " +
    "Jaccard pairs filtered to split-crossing, on sf0.001") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf("sf0.001"))
    val splits = graft.operators.SplitOps.assignSplit(docs, "doc_id")
      .select(col("doc_id"), col("split"))
    def crossers(pairs: org.apache.spark.sql.DataFrame) = pairs
      .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = crossers(NearDup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8))
    val exact = crossers(NearDup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8))
    assert(lsh === exact)
    assert(lsh.nonEmpty, "fixture corpus must exhibit at least one leaked pair")
  }

  test("searchByText: hand-computed Jaccard ranking, the floor prunes, " +
    "short docs and short queries handled, plan is TakeOrderedAndProject") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b c d e"),       // shingles {abc, bcd, cde}
      (2L, "a b c x y"),       // {abc, bcx, cxy} — shares abc
      (3L, "p q r s"),         // disjoint
      (4L, "a b")              // too short to shingle — absent
    ).toDF("doc_id", "text")
    // query 'a b c d': shingles {abc, bcd}
    val out = NearDup.searchByText(docs, "doc_id", "text", "a b c d",
      k = 10, minJaccard = 0.01)
    val got = out.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // doc1: |∩|=2, |∪|=3 → 0.6667 ; doc2: |∩|=1, |∪|=4 → 0.25
    assert(got === Seq((1L, 0.6667), (2L, 0.25)))
    // plan shape on a real scan (the toy LocalTableScan above folds
    // the limit away because maxRows < k): bounded top-k, no global sort
    val plan = NearDup.searchByText(Tables.documents(spark, sf("sf0.001")),
      "doc_id", "text", "key agg row scan", k = 5)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"single-query search must plan as TakeOrderedAndProject:\n$plan")
    intercept[IllegalArgumentException] {
      NearDup.searchByText(docs, "doc_id", "text", "a b", k = 5)
    }
  }

  test("containmentPairs: short-in-long caught where Jaccard misses, " +
    "directional asymmetry, maxDf cap is a conservative subset, " +
    "≡ quadratic reference on a random corpus") {
    import spark.implicits._
    // doc 1 is verbatim inside doc 2's much larger text
    val short = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, short),
      (2L, s"$filler $short ${filler.toUpperCase}"),
      (3L, "unrelated content entirely different words here")
      ).toDF("doc_id", "text")
    val pairs = NearDup.containmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) === 1.0,
      "short doc fully contained in long must score 1.0")
    assert(!pairs.contains((2L, 1L)),
      "the long side's containment in the short is far below threshold")
    // Jaccard at the same cut misses the pair entirely
    val jac = NearDup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.5).count()
    assert(jac === 0L)

    // random corpus: posting-list join ≡ quadratic set arithmetic
    val rnd = new scala.util.Random(47)
    val vocab = (1 to 12).map(i => s"t$i")
    val texts = (1L to 60L).map { id =>
      id -> Seq.fill(rnd.nextInt(15) + 3)(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }.toMap
    val rdf = texts.toSeq.toDF("doc_id", "text")
    def shingles(t: String): Set[String] = {
      val toks = t.split("\\s+").toSeq
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val want = (for {
      (a, ta) <- texts.toSeq; (b, tb) <- texts.toSeq
      if a != b
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty
      c = (sa & sb).size.toDouble / sa.size
      if c >= 0.5
    } yield (a, b) -> math.rint(c * 10000) / 10000).toMap
    val got = NearDup.containmentPairs(rdf, "doc_id", "text",
      n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got === want)

    // df cap: capped result ⊆ uncapped, pairs only lose score
    val capped = NearDup.containmentPairs(rdf, "doc_id", "text",
      n = 3, threshold = 0.5, maxDf = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    capped.foreach { case (pair, c) =>
      assert(want.contains(pair) && c <= want(pair) + 1e-9,
        s"capped pair $pair must be a conservative subset")
    }
  }

  test("winnowPairs: n_shared equals the fingerprint-hash-set " +
    "intersection; a long shared run forces a pair; disjoint docs " +
    "absent; maxDf cap is a conservative subset") {
    import spark.implicits._
    val run = "the quick brown fox jumps over the lazy dog again tonight"
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"one two three $run four five"),
      (3L, s"totally different content with no overlap at all here"),
      // 4/5 share ONLY a short 4-token run (< w+k-1 = 6): a shared
      // fingerprint is possible but not guaranteed
      (4L, "shared little run here plus unrelated padding words"),
      (5L, "other prefix stuff shared little run here and more"))
      .toDF("doc_id", "text")
    val got = NearDup.winnowPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // ground truth from the fingerprint sets themselves
    val fps = TextOps.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = fps.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      n = fps(a).intersect(fps(b)).size if n >= 1
    } yield (a, b) -> n.toLong).toMap
    assert(got === want)
    assert(got.contains((1L, 2L)), "the 11-token shared run must pair")
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // cap at df > 1 removes every hash docs 1 and 2 share
    val cappedPairs = NearDup.winnowPairs(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 1L, maxDf = Some(1L)).collect()
    assert(cappedPairs.isEmpty)
  }

  test("prefixJaccardPairs ≡ quadratic ngramJaccardPairs (exact-complete) " +
    "on sf0.001 and on a seeded skewed corpus") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val docs = Tables.documents(spark, sf("sf0.001"))
    val exact = pairSet(NearDup.prefixJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.4))
    val brute = pairSet(NearDup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.4))
    assert(exact === brute)
    assert(exact.nonEmpty, "test data should contain planted near-dups")

    // seeded random corpus with a boilerplate run shared by EVERY doc:
    // the hot shingles land at the END of the (df asc) order, so they
    // never enter a prefix — completeness must still hold
    val rnd = new scala.util.Random(231)
    val vocab = (1 to 20).map(i => s"w$i")
    val boiler = "hdr one two three"
    val texts = (1L to 50L).map { id =>
      val body = Seq.fill(rnd.nextInt(12) + 4)(vocab(rnd.nextInt(vocab.size)))
      id -> (boiler + " " + body.mkString(" "))
    }
    val fixture = texts.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val e = pairSet(NearDup.prefixJaccardPairs(fixture, "doc_id", "text", 3, t))
      val b = pairSet(NearDup.ngramJaccardPairs(fixture, "doc_id", "text", 3, t))
      assert(e === b, s"threshold $t: prefix-filtered != quadratic")
    }
  }

  test("prefixJaccardPairs boundary: J exactly == threshold with " +
    "integral t*n survives, and threshold 1.0 finds exact duplicates") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // x = 2 shingles {a b c, b c d} fully inside y's 4 ({u v a, v a b,
    // a b c, b c d}): J = 2/(2+4-2) = 0.5 exactly; y's unique shingles
    // are rarest (df=1) so they fill y's prefix first — the
    // un-incremented prefix length (4 - floor(2) = 2) would stop
    // before the first shared shingle and miss the pair
    val boundary = Seq(
      (1L, "a b c d"),
      (2L, "u v a b c d")).toDF("doc_id", "text")
    assert(pairSet(NearDup.prefixJaccardPairs(boundary, "doc_id", "text",
      n = 3, threshold = 0.5)) === Set((1L, 2L)))
    // t = 1.0: only the exact-duplicate shingle set pairs
    val dup = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "a b c d f")).toDF("doc_id", "text")
    assert(pairSet(NearDup.prefixJaccardPairs(dup, "doc_id", "text",
      n = 3, threshold = 1.0)) === Set((1L, 2L)))
  }

  test("md5SimhashSigs replays an independent md5 bit computation, " +
    "and md5SimhashPairs ≡ brute-force hamming on a seeded corpus") {
    // independent replay: strict-majority bits from MessageDigest md5
    def sigOf(text: String): Long = {
      val toks = text.trim.split("\\s+").toSeq
      val counts = new Array[Int](64)
      toks.foreach { w =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val h1 = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        val h2 = java.lang.Long.parseLong(hex.substring(8, 16), 16)
        for (b <- 0 until 32) {
          if (((h1 >> b) & 1L) == 1L) counts(b) += 1
          if (((h2 >> b) & 1L) == 1L) counts(32 + b) += 1
        }
      }
      var out = 0L
      for (b <- 0 until 64)
        if (2 * counts(b) > toks.size) out |= (1L << b)
      out
    }
    val texts = Seq(1L -> "the quick brown fox", 2L -> "lazy dog sleeps",
      3L -> "the quick brown fox")
    val got = NearDup.md5SimhashSigs(texts.toDF("doc_id", "text"),
      "doc_id", "text").as[(Long, Long)].collect().toMap
    texts.foreach { case (id, t) =>
      assert(got(id) === sigOf(t), s"doc $id signature mismatch")
    }
    // pigeonhole completeness: blocked pairs == brute force over sigs;
    // every 10th doc mirrors its predecessor + an edit (planted dups)
    val vocab = (1 to 30).map(i => s"tok$i")
    val baseTexts = {
      val r2 = new scala.util.Random(264)
      (1L to 60L).map { id =>
        id -> Seq.fill(30)(vocab(r2.nextInt(vocab.size))).mkString(" ")
      }.toMap
    }
    val docs = (1L to 60L).map { id =>
      if (id % 10 == 0) id -> (baseTexts(id - 1) + " edited")
      else id -> baseTexts(id)
    }.toDF("doc_id", "text")
    for (h <- Seq(0, 3, 7)) {
      val blocked = NearDup.md5SimhashPairs(docs, "doc_id", "text", h)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sigs = NearDup.md5SimhashSigs(docs, "doc_id", "text")
        .as[(Long, Long)].collect()
      val brute = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        if java.lang.Long.bitCount(sa ^ sb) <= h
      } yield (ia, ib)).toSet
      assert(blocked === brute, s"maxHamming $h: blocked != brute")
    }
  }

  test("dedupSavingsReport: normalization-equal docs cluster, the " +
    "min-id keeper's chars are excluded from the savings, singletons " +
    "save nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b"),      // keeper of the pair (min id), 3 chars
      (2L, "A  b!!"),   // normalizes to "a b": 6 dup chars
      (3L, "c"))        // singleton
      .toDF("doc_id", "text")
    val out = NearDup.dedupSavingsReport(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out === Map(
      2L -> ((1L, 2L, 6L)), // one 2-doc cluster, non-keeper's 6 chars
      1L -> ((1L, 1L, 0L))))
  }
}
