package perfbench

import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * arguments: the same seed gives byte-identical inputs. The program
  * under test sees only what these produce.
  */
object Gen {

  /** An independent stream per (seed, generator). `split` draws a fresh
    * gamma: generators seeded with nearby longs alone would walk one
    * shared sequence shifted by a few draws.
    */
  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream).split()

  private def pick[T](r: SplittableRandom, xs: scala.collection.IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's gaussian is not splittable)
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // ------------------------------------------------------------------
  // qalert_hourly: hourly 311 ndjson drops
  // ------------------------------------------------------------------

  object Qalert {
    val T0: Long = 1700000000L
    /** Half of the default series: the council-district map changes here. */
    def redistrictAt(drops: Int): Long = T0 + 3600L * drops / 2

    val cityWkt = "POLYGON((-80.095 40.362, -79.865 40.362, -79.865 40.501, -80.095 40.501, -80.095 40.362))"
    val enclaveWkt = "POLYGON((-79.990 40.405, -79.975 40.405, -79.975 40.416, -79.990 40.416, -79.990 40.405))"

    private def box(x0: Double, y0: Double, x1: Double, y1: Double): String =
      s"POLYGON(($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"

    /** Four zone families; the council districts are redrawn halfway
      * through the series, so both validity windows are exercised.
      */
    def zoneFamilies(drops: Int): Map[String, Seq[(String, String, Long, Option[Long])]] = {
      val cut = redistrictAt(drops)
      ListMap(
        "neighborhood" -> Seq(
          ("Northwest", box(-80.095, 40.43, -79.98, 40.501), 0L, None),
          ("Northeast", box(-79.98, 40.43, -79.865, 40.501), 0L, None),
          ("Southwest", box(-80.095, 40.362, -79.98, 40.43), 0L, None),
          ("Southeast", box(-79.98, 40.362, -79.865, 40.43), 0L, None)),
        "council_district" -> Seq(
          ("District 1", box(-80.095, 40.362, -79.99, 40.501), 0L, Some(cut - 1)),
          ("District 2", box(-79.99, 40.362, -79.865, 40.501), 0L, Some(cut - 1)),
          ("District 1", box(-80.095, 40.362, -79.95, 40.501), cut, None),
          ("District 2", box(-79.95, 40.362, -79.865, 40.501), cut, None)),
        "police_zone" -> Seq(
          ("Zone 1", box(-80.095, 40.362, -80.02, 40.501), 0L, None),
          ("Zone 2", box(-80.02, 40.362, -79.94, 40.501), 0L, None),
          ("Zone 3", box(-79.94, 40.362, -79.865, 40.501), 0L, None)),
        "fire_zone" -> Seq(
          ("Fire North", box(-80.095, 40.44, -79.865, 40.501), 0L, None),
          ("Fire South", box(-80.095, 40.362, -79.865, 40.44), 0L, None)))
    }

    private val types = Vector(
      1L -> "Potholes", 2L -> "Street Light - Repair", 3L -> "Weeds/Debris",
      4L -> "Abandoned Vehicle", 5L -> "Missed Pick Up", 6L -> "Private Violation")
    private val streets = Vector("Murray Ave", "Forbes Ave", "Penn Ave", "Liberty Ave",
      "Carson St", "Butler St", "Brownsville Rd", "Negley Ave", "Highland Ave", "Smallman St")
    private val names = Vector("John Smith", "Maria Garcia", "Wei Chen", "Aisha Brown", "Tom Novak")
    private val words = Vector("large", "hole", "near", "corner", "light", "out", "trash",
      "left", "curb", "since", "monday", "blocking", "lane", "again", "resident", "reports")
    private val origins = Vector("Call Center", "Website", "Report2Gov iOS", "Text Message")
    private val depts = Vector("DPW - Street Maintenance", "DOMI - Traffic", "Police - Zones 1-6")

    final case class Ticket(
        id: Long, master: Long, status: Int, typeId: Long, typeName: String,
        addUnix: Long, lastUnix: Long, streetNum: String, street: String,
        cross: Option[String], lat: Option[Double], lon: Option[Double],
        comments: String, notes: String, origin: String, dept: String)

    /** One hourly drop: its ndjson lines, how many of them are truncated
      * (quarantined), and the valid records it carries in arrival order.
      */
    final case class Drop(lines: Vector[String], quarantined: Int, records: Vector[Ticket])

    /** What the masters must hold after a prefix of the drops. */
    final case class Expected(lastStatus: Map[Long, Int], children: Map[Long, Set[Long]],
                              parents: Set[Long])

    final case class Series(drops: Vector[Drop], shares: ListMap[String, Double]) {
      def bytes: Array[Byte] =
        drops.map(_.lines.mkString("\n")).mkString("\n--\n").getBytes("UTF-8")

      /** Expected master state after the first `k` drops, replayed in
        * plain Scala: the current status of an id is its last arrival,
        * and a parent's children are every child id naming it.
        */
      def expectedAfter(k: Int): Expected = {
        val recs = drops.take(k).flatMap(_.records)
        Expected(recs.map(t => t.id -> t.status).toMap,
          recs.filter(_.master != 0L).groupBy(_.master).map { case (p, cs) => p -> cs.map(_.id).toSet },
          recs.filter(_.master == 0L).map(_.id).toSet)
      }
    }

    private def fmt(d: Double): String = f"$d%.6f"

    def json(t: Ticket): String = {
      def s(x: String) = "\"" + x + "\""
      def opt(x: Option[String]) = x.map(s).getOrElse("null")
      val lat = t.lat.map(fmt).getOrElse("null")
      val lon = t.lon.map(fmt).getOrElse("null")
      s"""{"id": ${t.id}, "master": ${t.master}, "status": ${t.status}, "typeId": ${t.typeId}, "typeName": ${s(t.typeName)}, "addDateUnix": ${t.addUnix}, "lastActionUnix": ${t.lastUnix}, "closeDate": null, "streetNum": ${s(t.streetNum)}, "streetName": ${s(t.street)}, "crossStreetName": ${opt(t.cross)}, "streetId": ${t.id % 977}, "crossStreetId": ${t.id % 389}, "cityName": "Pittsburgh", "latitude": $lat, "longitude": $lon, "comments": ${s(t.comments)}, "privateNotes": ${s(t.notes)}, "origin": ${s(t.origin)}, "dept": ${s(t.dept)}, "addDate": "x", "lastAction": "x", "displayDate": "x", "displayLastAction": "x", "district": "x", "submitter": "x", "priorityValue": 1, "aggregatorId": 2, "priorityToDisplay": "x", "aggregatorInfo": "x", "resumeDate": null, "cityId": 1}"""
    }

    def generate(seed: Long, drops: Int, perDrop: Int): Series = {
      val r = rng(seed, 1)
      var nextId = 1000000L
      val latest = mutable.LinkedHashMap.empty[Long, Ticket] // id → last valid version
      val parentIds = mutable.ArrayBuffer.empty[Long]
      var nRecords, nRearrive, nChild, nPii, nConcat, nBad, nLines = 0
      var nInCity, nEnclave, nOutside, nNoCoords = 0
      def tally(t: Ticket): Unit = {
        if (t.comments.contains(" call ") || t.comments.contains("@")) nPii += 1
        (t.lat, t.lon) match {
          case (Some(la), Some(lo)) =>
            if (la >= 40.405 && la <= 40.416 && lo >= -79.990 && lo <= -79.975) nEnclave += 1
            else if (la >= 40.362 && la <= 40.501 && lo >= -80.095 && lo <= -79.865) nInCity += 1
            else nOutside += 1
          case _ => nNoCoords += 1
        }
      }

      def location(): (Option[Double], Option[Double]) = {
        val u = r.nextDouble()
        if (u < 0.02) (None, None)
        else if (u < 0.10)
          (Some(40.405 + 0.011 * r.nextDouble()), Some(-79.990 + 0.015 * r.nextDouble()))
        else if (u < 0.25)
          (Some(40.52 + 0.1 * r.nextDouble()), Some(-80.3 + 0.5 * r.nextDouble()))
        else {
          var la, lo = 0.0
          while ({
            la = 40.362 + 0.139 * r.nextDouble(); lo = -80.095 + 0.23 * r.nextDouble()
            la >= 40.404 && la <= 40.417 && lo >= -79.991 && lo <= -79.974
          }) ()
          (Some(la), Some(lo))
        }
      }

      def comments(): String = {
        val base = (1 to 4 + r.nextInt(6)).map(_ => pick(r, words)).mkString(" ")
        r.nextInt(10) match {
          case 0 | 1 => s"$base call ${pick(r, names)} at 412-555-${1000 + r.nextInt(9000)}"
          case 2     => s"$base email resident${r.nextInt(500)}@example.com"
          case _     => base
        }
      }

      def fresh(drop: Int, master: Long): Ticket = {
        val (tId, tName) = {
          val u = r.nextDouble()
          if (u < 0.05) types.last else types(r.nextInt(types.size - 1))
        }
        val add = T0 + 3600L * drop + r.nextInt(3600)
        val (la, lo) = location()
        nextId += 1
        Ticket(nextId, master, if (r.nextInt(4) == 0) 3 else 0, tId, tName, add,
          add + r.nextInt(600), (100 + r.nextInt(4900)).toString, pick(r, streets),
          if (r.nextInt(3) == 0) Some(pick(r, streets)) else None, la, lo,
          comments(), s"note ${r.nextInt(1000)}", pick(r, origins), pick(r, depts))
      }

      val out = (0 until drops).map { d =>
        val recs = mutable.ArrayBuffer.empty[Ticket]
        val nRe = if (latest.isEmpty) 0 else math.round(perDrop * 0.15).toInt
        val pool = latest.keys.toVector
        val chosen = mutable.LinkedHashSet.empty[Long]
        while (chosen.size < math.min(nRe, pool.size)) chosen += pick(r, pool)
        chosen.foreach { id =>
          val old = latest(id)
          val status = Seq(0, 1, 3, 4).filterNot(_ == old.status)(r.nextInt(3))
          recs += old.copy(status = status, lastUnix = T0 + 3600L * d + r.nextInt(3600))
          nRearrive += 1
        }
        while (recs.size < perDrop) {
          val isChild = parentIds.nonEmpty && r.nextDouble() < 0.25
          val t = fresh(d, if (isChild) pick(r, parentIds) else 0L)
          if (isChild) nChild += 1
          recs += t
        }
        recs.foreach { t =>
          tally(t)
          if (t.master == 0L && !latest.contains(t.id)) parentIds += t.id
          latest(t.id) = t
        }
        nRecords += recs.size
        // shuffle, then fuse ~1% of adjacent pairs into one concatenated
        // line (repairable) and add ~0.5% truncated lines (quarantined)
        val shuffled = recs.map(json).toArray
        for (i <- shuffled.indices.reverse) {
          val j = r.nextInt(i + 1); val x = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = x
        }
        val lines = mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < shuffled.length) {
          if (i + 1 < shuffled.length && r.nextDouble() < 0.01) {
            lines += shuffled(i) + shuffled(i + 1); nConcat += 1; i += 2
          } else { lines += shuffled(i); i += 1 }
        }
        val nTrunc = math.max(1, perDrop / 200)
        (0 until nTrunc).foreach { _ =>
          val j = json(fresh(d, 0L)) // id used nowhere else: its record is lost
          lines.insert(r.nextInt(lines.size + 1), j.substring(0, j.length / 2 + r.nextInt(j.length / 3)))
        }
        nBad += nTrunc
        nLines += lines.size
        Drop(lines.toVector, nTrunc, recs.toVector)
      }.toVector

      val located = (nInCity + nEnclave + nOutside + nNoCoords).toDouble
      Series(out, ListMap(
          "re_arrival" -> nRearrive.toDouble / nRecords,
          "child" -> nChild.toDouble / nRecords,
          "pii_comment" -> nPii.toDouble / nRecords,
          "concat_line" -> nConcat.toDouble / nLines,
          "quarantine_line" -> nBad.toDouble / nLines,
          "in_city" -> nInCity / located, "in_enclave" -> nEnclave / located,
          "outside_city" -> nOutside / located, "no_coords" -> nNoCoords / located))
    }
  }

  // ------------------------------------------------------------------
  // documents + embeddings (corpus_curate, admission_stream, driver_chains)
  // ------------------------------------------------------------------

  object Docs {
    val Dim = 64
    private val content = Vector("spark", "data", "table", "query", "stream", "batch",
      "vector", "column", "row", "join", "filter", "group", "sort", "hash", "scan",
      "window", "merge", "index", "shard", "cache", "plan", "stage", "task", "driver",
      "node", "graph", "rank", "token", "model", "layer", "corpus", "record", "ticket",
      "street", "city", "permit", "parcel", "budget", "report", "export", "schema",
      "river", "bridge", "signal", "meter", "route", "zone", "ward", "tax", "fund")
    private val stop = Map(
      "en" -> Vector("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
      "de" -> Vector("der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"),
      "es" -> Vector("el", "la", "que", "y", "un", "es", "los", "por", "con", "del"),
      "fr" -> Vector("le", "et", "les", "des", "du", "est", "une", "pour", "dans", "sur"))
    val langs = Vector("en", "en", "en", "de", "es", "fr")

    final case class Doc(id: Long, text: String, lang: String, source: String)
    final case class Vec(id: Long, v: Array[Float], label: Int)

    def text(r: SplittableRandom, lang: String, nTok: Int): String =
      (0 until nTok).map(_ =>
        if (r.nextInt(4) == 0) pick(r, stop(lang)) else pick(r, content)).mkString(" ")

    /** One token replaced: a near-duplicate at word-3-shingle Jaccard ≈ (n-3)/(n+3). */
    def variant(r: SplittableRandom, t: String): String = {
      val toks = t.split(" ")
      val i = r.nextInt(toks.length)
      toks(i) = pick(r, content.filterNot(_ == toks(i)))
      toks.mkString(" ")
    }

    def unit(r: SplittableRandom): Array[Float] = {
      val g = Array.fill(Dim)(gauss(r))
      val n = math.sqrt(g.map(x => x * x).sum)
      g.map(x => (x / n).toFloat)
    }

    def perturb(r: SplittableRandom, v: Array[Float], eps: Double): Array[Float] = {
      val g = v.map(x => x + eps * gauss(r) / math.sqrt(Dim))
      val n = math.sqrt(g.map(x => x * x).sum)
      g.map(x => (x / n).toFloat)
    }

    def vecBytes(vs: Seq[Vec]): String =
      vs.map(v => s"${v.id}:${v.label}:" + v.v.map(f => java.lang.Float.floatToIntBits(f)).mkString(","))
        .mkString("\n")

    def docBytes(ds: Seq[Doc]): String =
      ds.map(d => s"${d.id}\t${d.lang}\t${d.source}\t${d.text}").mkString("\n")
  }

  /** Curation corpus: unique documents plus seeded exact copies,
    * one-token near-duplicate variants, short and repetitive rejects,
    * other-language documents, and embeddings whose copies are
    * perturbations of their source's vector.
    */
  final case class Corpus(docs: Vector[Docs.Doc], vecs: Vector[Docs.Vec],
                          shares: ListMap[String, Double]) {
    def bytes: Array[Byte] = (Docs.docBytes(docs) + "\n--\n" + Docs.vecBytes(vecs)).getBytes("UTF-8")
  }

  def corpus(seed: Long, n: Int): Corpus = {
    import Docs._
    val r = rng(seed, 2)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val vecs = mutable.ArrayBuffer.empty[Vec]
    val eligible = mutable.ArrayBuffer.empty[Doc] // long English originals
    var nExact, nNear, nShort, nRep, nSem, nOther = 0
    (0 until n).foreach { i =>
      val id = i.toLong
      val src = s"src${r.nextInt(20)}"
      val u = r.nextDouble()
      if (u < 0.07 && eligible.nonEmpty) {
        val s = pick(r, eligible)
        nExact += 1
        docs += Doc(id, s.text, s.lang, src)
        vecs += Vec(id, perturb(r, vecs(s.id.toInt).v, 0.05), r.nextInt(10))
      } else if (u < 0.14 && eligible.nonEmpty) {
        val s = pick(r, eligible)
        nNear += 1
        docs += Doc(id, variant(r, s.text), s.lang, src)
        vecs += Vec(id, perturb(r, vecs(s.id.toInt).v, 0.1), r.nextInt(10))
      } else {
        val lang = pick(r, langs)
        if (lang != "en") nOther += 1
        val t =
          if (u < 0.18) { nShort += 1; text(r, lang, 4 + r.nextInt(5)) }
          else if (u < 0.21) { nRep += 1; Seq.fill(10)("spark data").mkString(" ") + " " + text(r, lang, 5) }
          else text(r, lang, 30 + r.nextInt(40))
        docs += Doc(id, t, lang, src)
        if (lang == "en" && u >= 0.21) eligible += docs.last
        val semDup = vecs.nonEmpty && r.nextDouble() < 0.05
        if (semDup) nSem += 1
        vecs += Vec(id,
          if (semDup) perturb(r, pick(r, vecs).v, 0.1) else unit(r), r.nextInt(10))
      }
    }
    Corpus(docs.toVector, vecs.toVector, ListMap(
      "exact_dup" -> nExact.toDouble / n, "near_dup" -> nNear.toDouble / n,
      "semantic_only_dup" -> nSem.toDouble / n, "short" -> nShort.toDouble / n,
      "repetitive" -> nRep.toDouble / n, "non_en" -> nOther.toDouble / n))
  }

  /** Admission micro-batches: fresh documents and vectors plus seeded
    * exact copies and near-duplicates of earlier batches, and repeats
    * within the batch. `exactCopies` holds, per batch, the ids that are
    * verbatim copies of an earlier batch — the admission check's truth.
    */
  final case class Admission(
      docBatches: Vector[Vector[Docs.Doc]], vecBatches: Vector[Vector[Docs.Vec]],
      exactDocCopies: Vector[Set[Long]], exactVecCopies: Vector[Set[Long]],
      shares: ListMap[String, Double]) {
    def bytes: Array[Byte] = docBatches.indices.map(b =>
      Docs.docBytes(docBatches(b)) + "\n-\n" + Docs.vecBytes(vecBatches(b))).mkString("\n--\n").getBytes("UTF-8")
  }

  /** `sizes` holds (documents, vectors) per micro-batch. */
  def admission(seed: Long, sizes: Seq[(Int, Int)]): Admission = {
    import Docs._
    val r = rng(seed, 3)
    val seenDocs = mutable.ArrayBuffer.empty[Doc]
    val seenVecs = mutable.ArrayBuffer.empty[Vec]
    var docId = 0L
    var vecId = 5000000L
    var nDocExact, nDocNear, nDocIntra, nVecExact, nVecNear, nVecIntra = 0
    val out = sizes.map { case (docsPer, vecsPer) =>
      val ds = mutable.ArrayBuffer.empty[Doc]
      val exactD = mutable.Set.empty[Long]
      while (ds.size < docsPer) {
        docId += 1
        val u = r.nextDouble()
        if (u < 0.10 && seenDocs.nonEmpty) {
          ds += Doc(docId, pick(r, seenDocs).text, "en", "stream")
          exactD += docId; nDocExact += 1
        } else if (u < 0.20 && seenDocs.nonEmpty) {
          ds += Doc(docId, variant(r, pick(r, seenDocs).text), "en", "stream")
          nDocNear += 1
        } else if (u < 0.25 && ds.nonEmpty) {
          ds += Doc(docId, pick(r, ds).text, "en", "stream"); nDocIntra += 1
        } else ds += Doc(docId, text(r, "en", 30 + r.nextInt(30)), "en", "stream")
      }
      val vs = mutable.ArrayBuffer.empty[Vec]
      val exactV = mutable.Set.empty[Long]
      while (vs.size < vecsPer) {
        vecId += 1
        val u = r.nextDouble()
        if (u < 0.10 && seenVecs.nonEmpty) {
          vs += Vec(vecId, pick(r, seenVecs).v.clone(), r.nextInt(10))
          exactV += vecId; nVecExact += 1
        } else if (u < 0.20 && seenVecs.nonEmpty) {
          vs += Vec(vecId, perturb(r, pick(r, seenVecs).v, 0.1), r.nextInt(10))
          nVecNear += 1
        } else if (u < 0.25 && vs.nonEmpty) {
          vs += Vec(vecId, pick(r, vs).v.clone(), r.nextInt(10)); nVecIntra += 1
        } else vs += Vec(vecId, unit(r), r.nextInt(10))
      }
      seenDocs ++= ds; seenVecs ++= vs
      (ds.toVector, vs.toVector, exactD.toSet, exactV.toSet)
    }.toVector
    val nd = sizes.map(_._1).sum.toDouble
    val nv = sizes.map(_._2).sum.toDouble
    Admission(out.map(_._1), out.map(_._2), out.map(_._3), out.map(_._4), ListMap(
      "doc_cross_batch_exact" -> nDocExact / nd, "doc_cross_batch_near" -> nDocNear / nd,
      "doc_in_batch_repeat" -> nDocIntra / nd, "vec_cross_batch_exact" -> nVecExact / nv,
      "vec_cross_batch_near" -> nVecNear / nv, "vec_in_batch_repeat" -> nVecIntra / nv))
  }

  // ------------------------------------------------------------------
  // driver_chains: TPC-H-shaped orders/lineitem + documents
  // ------------------------------------------------------------------

  final case class Order(key: Long, cust: Long, status: String, price: Double, dateMs: Long, prio: String)
  final case class Line(order: Long, part: Long, supp: Long, num: Int, qty: Double,
                        price: Double, disc: Double, tax: Double, flag: String, status: String, shipMs: Long)
  final case class Star(orders: Vector[Order], lines: Vector[Line], docs: Vector[Docs.Doc]) {
    def bytes: Array[Byte] = (orders.mkString("\n") + "\n--\n" + lines.mkString("\n") +
      "\n--\n" + Docs.docBytes(docs)).getBytes("UTF-8")
  }

  def star(seed: Long, nOrders: Int, nCust: Int, nParts: Int, nDocs: Int): Star = {
    val r = rng(seed, 4)
    val d0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val days = java.time.LocalDate.of(2001, 8, 1).toEpochDay - d0
    val orders = (1 to nOrders).map { k =>
      Order(k.toLong, 1L + r.nextInt(nCust), pick(r, Vector("O", "F", "P")),
        math.round(r.nextDouble() * 5000000) / 100.0,
        (d0 + r.nextLong(days + 1)) * 86400000L, s"${1 + r.nextInt(5)}-PRIO")
    }.toVector
    val lines = orders.flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { n =>
        val q = 1 + r.nextInt(50)
        Line(o.key, 1L + r.nextInt(nParts), 1L + r.nextInt(100), n, q.toDouble,
          math.round(q * (900 + r.nextDouble() * 1100) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Vector("A", "N", "R")),
          pick(r, Vector("O", "F")), o.dateMs + (1 + r.nextInt(120)) * 86400000L)
      }
    }
    Star(orders, lines, corpus(seed, nDocs).docs)
  }
}
