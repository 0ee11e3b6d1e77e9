package perfbench

import graft.pipelines.{CorpusPipeline, QalertPipeline}
import graft.pipelines.QalertPipeline.Masters
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Result of one pass over a workload's inputs. `failed` holds the
  * indexes of ops that threw or failed an output check; only the other
  * ops are in `ops`.
  */
final case class Pass(ops: Vector[Op], failed: Set[Int], digest: String,
                      problems: Vector[String])

/** Wall and process-CPU seconds of one successful op. */
final case class Op(wallS: Double, cpuS: Double)

trait Workload {
  def name: String
  /** Ops in a full pass. */
  def ops: Int
  /** Ops in the set-up's warm-up: enough to have run every distinct
    * code path at least once.
    */
  def warmOps: Int = 1
  /** The set-up's warm-up pass. */
  def warmUp(spark: SparkSession, out: File): Pass = pass(spark, out, None, warmOps)
  /** Layer calls its traced pass makes, and the other per-layer values it sets. */
  def calls: Seq[String]
  def values: Seq[String] = Nil
  /** Every per-layer metric its traced pass records. */
  final def layers: Seq[String] =
    calls.flatMap(c => Seq("wall_s", "jobs", "driver_gap_s").map(m => s"$c.$m")) ++ values
  /** Batch and row counts, stamped on every result. */
  def shape: ListMap[String, Long]
  /** Measured shares of each injected input property. */
  def shares: ListMap[String, Double]
  /** Writes the generated inputs under `dir`. Harness work, not timed. */
  def prepare(spark: SparkSession, dir: File): Unit
  /** One pass over the first `upTo` ops of the inputs, writing outputs
    * under `out`. With a recorder, each layer's public function is
    * called in turn and its output materialized before the next call.
    */
  def pass(spark: SparkSession, out: File, rec: Option[Recorder], upTo: Int): Pass
}

object Workload {
  val names: Seq[String] = Seq("qalert_hourly", "corpus_curate", "admission_stream", "driver_chains")

  def apply(name: String, seed: Long): Workload = name match {
    case "qalert_hourly"    => new QalertHourly(seed, drops = 3, perDrop = 600)
    case "corpus_curate"    => new CorpusCurate(seed, docs = 400)
    case "admission_stream" => new AdmissionStream(seed, base = (600, 300), probe = (150, 75), probes = 3)
    case "driver_chains"    => new DriverChains(seed, orders = 4000, docs = 300,
      queries = Seq("q143_pagerank", "q164_bpe_token_budget", "q246_rec_holdout_eval", "q324_lsh_backtest"))
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** The traced run of a workload also traces its companion, so that
    * the layers of the two workloads left out of BENCHMARK.json are
    * measured in every traced run of the two in it.
    */
  val companions: Map[String, String] =
    Map("qalert_hourly" -> "driver_chains", "admission_stream" -> "corpus_curate")

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS: Double = os.getProcessCpuTime / 1e9

  private[perfbench] def timed[T](body: => T): (T, Op) = {
    val c0 = processCpuS
    val t0 = System.nanoTime()
    val v = body
    (v, Op((System.nanoTime() - t0) / 1e9, processCpuS - c0))
  }

  private[perfbench] def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  private[perfbench] def rows(df: DataFrame): Vector[String] =
    df.collect().toVector.map(Stats.rowString)

  private[perfbench] def dirStats(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else {
      val files = Files.walk(dir.toPath).filter(Files.isRegularFile(_))
      try files.toArray.map(_.asInstanceOf[java.nio.file.Path]).foldLeft((0L, 0L)) {
        case ((n, b), p) => (n + 1, b + Files.size(p))
      } finally files.close()
    }
}

import Workload._

// ----------------------------------------------------------------------
// qalert_hourly
// ----------------------------------------------------------------------

/** A series of hourly 311 drops chained through `QalertPipeline.runBatch`;
  * the two masters carry from drop to drop, and each drop's scrubbed
  * export is written as CSV. One op is one drop.
  */
final class QalertHourly(seed: Long, drops: Int, perDrop: Int) extends Workload {
  val name = "qalert_hourly"
  val ops: Int = drops
  // two full passes: in each the first drop meets empty masters and
  // later ones do not, and the zone families are redrawn halfway; the
  // second pass takes the JIT closer to where the timed passes run
  override val warmOps: Int = 2 * drops
  override def warmUp(spark: SparkSession, out: File): Pass = {
    val (p, q) = (pass(spark, new File(out, "1"), None, drops), pass(spark, new File(out, "2"), None, drops))
    Pass(p.ops ++ q.ops, p.failed ++ q.failed.map(_ + drops), "", p.problems ++ q.problems)
  }
  val calls = Seq("sources.read_repaired", "pipelines.transform", "pipelines.format_dedupe",
    "geo.city_limits", "geo.rev_geo_time_bound", "tables.integrate", "state.checkpoint",
    "sources.write_export")
  override val values = Seq("sources.quarantine_ratio", "tables.master_rows")
  private val series = Gen.Qalert.generate(seed, drops, perDrop)
  private val zones = Gen.Qalert.zoneFamilies(drops)
  private val city = Gen.Qalert.cityWkt
  private val enclave = Gen.Qalert.enclaveWkt
  private var files = Vector.empty[String]

  def shape: ListMap[String, Long] = ListMap("drops" -> drops.toLong,
    "records" -> series.drops.map(_.records.size.toLong).sum,
    "lines" -> series.drops.map(_.lines.size.toLong).sum)
  def shares: ListMap[String, Double] = series.shares

  def prepare(spark: SparkSession, dir: File): Unit = {
    files = series.drops.zipWithIndex.map { case (d, i) =>
      val f = new File(dir, f"drops/drop-$i%03d.json")
      f.getParentFile.mkdirs()
      Files.write(f.toPath, (d.lines.mkString("\n") + "\n").getBytes("UTF-8"))
      f.getPath
    }
  }

  private val childStruct = ArrayType(StructType(Seq(
    StructField("child_id", StringType), StructField("child_comments", StringType),
    StructField("child_notes", StringType))))

  private def emptyMasters(spark: SparkSession): Masters = {
    val none = spark.createDataFrame(java.util.Collections.emptyList[Row](), QalertPipeline.rawSchema)
    QalertPipeline.emptyMasters(spark, QalertPipeline.enrich(
      QalertPipeline.formatDedupe(QalertPipeline.transform(none)), city, enclave, zones))
  }

  def pass(spark: SparkSession, out: File, rec: Option[Recorder], upTo: Int): Pass = {
    var masters = emptyMasters(spark)
    var export: DataFrame = null
    val secs = mutable.ArrayBuffer.empty[Op]
    val failed = mutable.Set.empty[Int]
    val problems = mutable.ArrayBuffer.empty[String]
    var quarantined, lines = 0L
    var d = 0
    while (d < upTo) {
      val exportDir = new File(out, f"export/drop-$d%03d").getPath
      try {
        val ((next, exp, nQ), s) = timed(rec match {
          case None    => untracedDrop(spark, files(d), masters, exportDir)
          case Some(r) => tracedDrop(spark, files(d), masters, exportDir, r)
        })
        masters = next; export = exp
        quarantined += nQ; lines += series.drops(d).lines.size
        if (nQ != series.drops(d).quarantined) {
          failed += d
          problems += s"drop $d: quarantined $nQ lines, injected ${series.drops(d).quarantined}"
        } else secs += s
        d += 1
      } catch { case e: Exception =>
        problems += s"drop $d threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        (d until upTo).foreach(failed += _)
        d = upTo
      }
    }
    if (failed.contains(upTo - 1)) return Pass(secs.toVector, failed.toSet, "", problems.toVector)

    // final state against the generator: current status per id is the
    // last-arriving record; num_requests is 1 + the parent's children
    val want = series.expectedAfter(upTo)
    val status = masters.currentStatus.select(col("id"), col("status_code")).collect()
      .map(r => r.getString(0).toLong -> r.getString(1).toInt).toMap
    if (status != want.lastStatus) {
      val bad = (status.keySet ++ want.lastStatus.keySet).filter(k => status.get(k) != want.lastStatus.get(k))
      problems += s"current status differs from the last arrival for ${bad.size} ids, e.g. ${bad.take(3).mkString(",")}"
    }
    val linked = masters.allLinked.select(col("id"), col("num_requests")).collect()
      .map(r => r.getString(0).toLong -> r.getLong(1)).toMap
    if (linked.keySet != want.parents)
      problems += s"linked master holds ${linked.size} parents, generator made ${want.parents.size}"
    val badCounts = linked.count { case (id, n) => n != 1 + want.children.getOrElse(id, Set.empty).size }
    if (badCounts > 0) problems += s"$badCounts parents have num_requests != 1 + children"
    if (problems.nonEmpty) (0 until upTo).foreach(failed += _)

    val digest = new Stats.Digest()
      .addAll(rows(export.withColumn("child_tickets_json",
        to_json(array_sort(from_json(col("child_tickets_json"), childStruct))))).map("export\u0001" + _))
      .addAll(rows(masters.currentStatus).map("status\u0001" + _))
      .add(s"quarantined\u0001$quarantined").hex
    rec.foreach { r =>
      r.set("sources.quarantine_ratio", quarantined.toDouble / lines)
      r.set("tables.master_rows", linked.size.toDouble + status.size)
    }
    Pass(if (problems.nonEmpty) Vector.empty else secs.toVector, failed.toSet, digest, problems.toVector)
  }

  /** The hourly DAG as users run it: one `runBatch`, then the export
    * and both masters written out. Returns the new masters, the export
    * and the quarantined-line count.
    */
  private def untracedDrop(spark: SparkSession, file: String, masters: Masters,
                           exportDir: String): (Masters, DataFrame, Long) = {
    val (next, export, quarantine) =
      QalertPipeline.runBatch(spark, file, masters, city, enclave, zones)
    export.write.mode("overwrite").option("header", "true").csv(exportDir)
    next.currentStatus.count() // materializes the status master's checkpoint
    (next, export, quarantine.count())
  }

  /** The same drop, one layer call at a time. */
  private def tracedDrop(spark: SparkSession, file: String, masters: Masters,
                         exportDir: String, r: Recorder): (Masters, DataFrame, Long) = {
    val (raw, nQ) = r("sources.read_repaired") {
      val (raw, q) = graft.sources.JsonSource.readRepaired(spark, file, QalertPipeline.rawSchema)
      (materialize(raw), q.count())
    }
    val transformed = r("pipelines.transform")(materialize(QalertPipeline.transform(raw)))
    val deduped = r("pipelines.format_dedupe")(materialize(QalertPipeline.formatDedupe(transformed)))
    val limited = r("geo.city_limits")(materialize(graft.geo.Geo.cityLimits(deduped, city, enclave,
      latCol = "pii_lat", longCol = "pii_long")))
    val enriched = r("geo.rev_geo_time_bound")(materialize(graft.geo.Geo.revGeoTimeBound(limited, zones,
      latCol = "pii_lat", longCol = "pii_long", eventUnixCol = "create_date_unix")))
    val integrated = r("tables.integrate") {
      val m = QalertPipeline.integrate(masters, enriched)
      Masters(materialize(m.allLinked), materialize(m.currentStatus))
    }
    val next = r("state.checkpoint")(Masters(
      graft.state.Checkpoints.stable(integrated.allLinked),
      graft.state.Checkpoints.stable(integrated.currentStatus)))
    val export = r("sources.write_export") {
      val e = QalertPipeline.dropPiiForExport(next.allLinked, Seq("Private Violation"))
      e.write.mode("overwrite").option("header", "true").csv(exportDir)
      e
    }
    Seq(raw, transformed, deduped, limited, enriched, integrated.allLinked, integrated.currentStatus)
      .foreach(_.unpersist(blocking = false))
    (next, export, nQ)
  }
}

// ----------------------------------------------------------------------
// corpus_curate
// ----------------------------------------------------------------------

/** One `CorpusPipeline.curate` run (quality, language, LM, exact,
  * near-dup, semantic and token-budget stages) writing the kept ids.
  * One op is one curate run.
  */
final class CorpusCurate(seed: Long, docs: Int) extends Workload {
  val name = "corpus_curate"
  val ops = 1
  val calls = Seq("text.quality_filter", "text.lang_filter", "text.lm_gate", "dedup.exact",
    "dedup.near_dup", "similarity.semantic_dedup", "text.token_budget")
  override val values = Seq("dedup.near_dup.kept_ratio", "similarity.semantic_dedup.kept_ratio")
  private val corpus = Gen.corpus(seed, docs)
  private val gates = CorpusPipeline.QualityGates(minTokens = 10, minStopwordRatio = 0.05)
  private val maxPpl = 10000.0
  private val semThreshold = 0.9
  private val budget = corpus.docs.map(_.text.split(" ").length.toLong).sum / 3
  private var docsPath, embsPath = ""

  def shape: ListMap[String, Long] = ListMap("docs" -> docs.toLong, "vectors" -> corpus.vecs.size.toLong,
    "token_budget" -> budget)
  def shares: ListMap[String, Double] = corpus.shares

  def prepare(spark: SparkSession, dir: File): Unit = {
    docsPath = new File(dir, "documents.parquet").getPath
    embsPath = new File(dir, "embeddings.parquet").getPath
    Inputs.docs(spark, corpus.docs).write.mode("overwrite").parquet(docsPath)
    Inputs.vecs(spark, corpus.vecs).write.mode("overwrite").parquet(embsPath)
  }

  def pass(spark: SparkSession, out: File, rec: Option[Recorder], upTo: Int): Pass = {
    val outDir = new File(out, "kept").getPath
    try {
      val docsDf = spark.read.parquet(docsPath)
      val embs = spark.read.parquet(embsPath)
      val (counts, s) = timed(rec match {
        case None    => curate(docsDf, embs, outDir)
        case Some(r) => tracedCurate(docsDf, embs, outDir, r)
      })
      val kept = spark.read.parquet(outDir).select("doc_id").collect().map(_.getLong(0))
      val texts = kept.map(id => corpus.docs(id.toInt).text)
      val problems = Vector(
        if (texts.distinct.length != texts.length) Some("two kept documents share a text") else None,
        if (kept.exists(id => corpus.docs(id.toInt).lang != "en")) Some("a non-English document was kept") else None,
        if (kept.isEmpty) Some("nothing kept") else None).flatten
      val digest = new Stats.Digest().addAll(kept.map(_.toString))
        .addAll(counts.map { case (k, v) => s"$k=$v" }).hex
      Pass(if (problems.isEmpty) Vector(s) else Vector.empty,
        if (problems.isEmpty) Set.empty else Set(0), digest, problems)
    } catch { case e: Exception =>
      Pass(Vector.empty, Set(0), "", Vector(s"curate threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  private def curate(docsDf: DataFrame, embs: DataFrame, outDir: String): Seq[(String, Long)] = {
    val (kept, report) = CorpusPipeline.curate(docsDf, langs = Seq("en"), gates = gates,
      tokenBudgetOpt = Some(budget), lmOpt = Some((docsDf, maxPpl)),
      semanticOpt = Some(CorpusPipeline.SemanticDedup(embs, "vec_id", "embedding", semThreshold)))
    kept.select("doc_id").write.mode("overwrite").parquet(outDir)
    kept.unpersist(blocking = false)
    Seq("after_quality", "after_lang", "after_lm", "after_exact_dedup", "after_near_dedup",
      "after_semantic_dedup", "final").map(k => k -> report(k))
  }

  /** `curate`'s stages called one by one with the same arguments. */
  private def tracedCurate(docsDf: DataFrame, embs: DataFrame, outDir: String,
                           r: Recorder): Seq[(String, Long)] = {
    val cols = docsDf.columns.map(col).toIndexedSeq
    val q = r("text.quality_filter")(materialize(CorpusPipeline.qualityFilter(docsDf, gates)))
    val l = r("text.lang_filter")(materialize(CorpusPipeline.langFilter(q.select(cols: _*), Seq("en"))))
    val lm = r("text.lm_gate") {
      val model = graft.text.NgramLm.trainBigramLm(docsDf, "text")
      val flagged = graft.text.NgramLm.scorePerplexity(l.select(cols: _*), "doc_id", "text", model)
        .filter(col("ppl") > maxPpl).select(col("doc_id"))
      materialize(l.join(flagged, Seq("doc_id"), "left_anti"))
    }
    val e = r("dedup.exact")(materialize(CorpusPipeline.exactDedup(lm.select(cols: _*), "doc_id", "text")))
    val nd = r("dedup.near_dup")(materialize(CorpusPipeline.nearDupDrop(e.select(cols: _*), "doc_id", "text", 0.8)))
    val sd = r("similarity.semantic_dedup") {
      val alive = embs.join(nd.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      val dropped = CorpusPipeline.semanticDedupLabels(alive, "vec_id", "embedding", semThreshold)
        .select(col("vec_id").as("doc_id"))
      materialize(nd.join(dropped, Seq("doc_id"), "left_anti"))
    }
    val kept = r("text.token_budget") {
      val k = materialize(CorpusPipeline.tokenBudget(sd, "doc_id", "text", budget))
      k.select("doc_id").write.mode("overwrite").parquet(outDir)
      k
    }
    val n = Seq(q, l, lm, e, nd, sd, kept).map(_.count())
    r.set("dedup.near_dup.kept_ratio", n(4).toDouble / n(3))
    r.set("similarity.semantic_dedup.kept_ratio", n(5).toDouble / n(4))
    Seq(q, l, lm, e, nd, sd, kept).foreach(_.unpersist(blocking = false))
    Seq("after_quality", "after_lang", "after_lm", "after_exact_dedup", "after_near_dedup",
      "after_semantic_dedup", "final").zip(n)
  }
}

// ----------------------------------------------------------------------
// admission_stream
// ----------------------------------------------------------------------

/** Micro-batch admission through `StreamingOps.dedupBatch` then
  * `semanticDedupBatch` against on-disk state. The set-up's warm-up
  * admits the base batch into empty state and one probe batch into
  * that; each pass copies the warm-up's state and admits `probes` more
  * probe batches one after the other, so the state grows through the
  * pass. Seeded shares of every probe batch repeat or near-duplicate
  * earlier batches. One op is one micro-batch through both families.
  */
final class AdmissionStream(seed: Long, base: (Int, Int), probe: (Int, Int), probes: Int)
    extends Workload {
  val name = "admission_stream"
  val ops: Int = probes
  override val warmOps = 2
  val calls = Seq("streaming.minhash_batch", "streaming.semantic_batch")
  override val values = Seq("streaming.admitted_ratio", "state.store_mb", "state.store_files")
  private val adm = Gen.admission(seed, base +: Seq.fill(1 + probes)(probe))
  private var docFiles, vecFiles = Vector.empty[String]
  private var baseDir: File = _
  private val textThreshold = 0.7
  private val semThreshold = 0.9

  def shape: ListMap[String, Long] = ListMap("base_docs" -> base._1.toLong, "base_vectors" -> base._2.toLong,
    "probe_batches" -> (1L + probes), "probe_docs" -> probe._1.toLong, "probe_vectors" -> probe._2.toLong)
  def shares: ListMap[String, Double] = adm.shares

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** One ndjson file per micro-batch and family, as a stream source drops them. */
  def prepare(spark: SparkSession, dir: File): Unit = {
    def write(path: File, lines: Seq[String]): String = {
      path.getParentFile.mkdirs()
      Files.write(path.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      path.getPath
    }
    docFiles = adm.docBatches.zipWithIndex.map { case (b, i) =>
      write(new File(dir, f"docs/batch-$i%03d.json"),
        b.map(d => s"""{"doc_id": ${d.id}, "text": "${d.text}"}"""))
    }
    vecFiles = adm.vecBatches.zipWithIndex.map { case (b, i) =>
      write(new File(dir, f"vecs/batch-$i%03d.json"),
        b.map(v => s"""{"vec_id": ${v.id}, "embedding": ${v.v.mkString("[", ", ", "]")}}"""))
    }
    baseDir = new File(dir, "base")
  }

  /** Admits micro-batches `batches` in order with state and outputs under
    * `dir`. Returns the timed ops, the indexes (into `batches`) of failed
    * ops, the admitted document and vector ids, and the problems found:
    * every verbatim copy of an earlier batch must be rejected.
    */
  private def admitAll(spark: SparkSession, batches: Seq[Int], dir: File, rec: Option[Recorder])
      : (Vector[Op], Set[Int], Vector[Long], Vector[Long], Vector[String]) = {
    val docOut = new File(dir, "admitted/docs").getPath
    val vecOut = new File(dir, "admitted/vecs").getPath
    def call(n: String)(body: => Unit): Unit = rec.fold(body)(r => r(n)(body))
    def ids(p: String, b: Int, c: String) =
      spark.read.parquet(new File(p, s"batch=$b").getPath).select(c).collect().map(_.getLong(0)).toVector
    val secs = mutable.ArrayBuffer.empty[Op]
    val failed = mutable.Set.empty[Int]
    val problems = mutable.ArrayBuffer.empty[String]
    var docs, vecs = Vector.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      if (failed.nonEmpty) failed += i // later batches read the state a failed one left
      else try {
        val (_, s) = timed {
          call("streaming.minhash_batch")(graft.streaming.StreamingOps.dedupBatch(
            spark.read.schema(docSchema).json(docFiles(b)), b.toLong, "doc_id", "text",
            new File(dir, "state/minhash").getPath, docOut, textThreshold))
          call("streaming.semantic_batch")(graft.streaming.StreamingOps.semanticDedupBatch(
            spark.read.schema(vecSchema).json(vecFiles(b)), b.toLong, "vec_id", "embedding",
            new File(dir, "state/semantic").getPath, vecOut, semThreshold))
        }
        val (d, v) = (ids(docOut, b, "doc_id"), ids(vecOut, b, "vec_id"))
        val leaked = d.filter(adm.exactDocCopies(b)) ++ v.filter(adm.exactVecCopies(b))
        if (leaked.nonEmpty) {
          failed += i
          problems += s"batch $b: admitted ${leaked.length} exact copies of earlier batches, " +
            s"e.g. ${leaked.take(3).mkString(",")}"
        } else secs += s
        docs ++= d; vecs ++= v
      } catch { case e: Exception =>
        failed += i; problems += s"batch $b threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    (secs.toVector, failed.toSet, docs, vecs, problems.toVector)
  }

  override def warmUp(spark: SparkSession, out: File): Pass = {
    Main.deleteTree(baseDir)
    val (secs, failed, _, _, problems) = admitAll(spark, 0 until warmOps, baseDir, None)
    Pass(secs, failed, "", problems)
  }

  def pass(spark: SparkSession, out: File, rec: Option[Recorder], upTo: Int): Pass = {
    Main.deleteTree(out)
    out.mkdirs()
    Files.walk(baseDir.toPath).forEach { p =>
      val dst = out.toPath.resolve(baseDir.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    val batches = warmOps until warmOps + upTo
    val (secs, failed, docs, vecs, problems) = admitAll(spark, batches, out, rec)
    rec.foreach { r =>
      val (files, bytes) = Seq("minhash", "semantic").map(f => dirStats(new File(out, s"state/$f")))
        .foldLeft((0L, 0L)) { case ((a, c), (x, y)) => (a + x, c + y) }
      r.set("streaming.admitted_ratio", (docs.length + vecs.length).toDouble / (upTo * (probe._1 + probe._2)))
      r.set("state.store_mb", bytes / 1048576.0)
      r.set("state.store_files", files.toDouble)
    }
    val digest = new Stats.Digest().addAll(docs.map(i => s"doc $i")).addAll(vecs.map(i => s"vec $i")).hex
    Pass(secs, failed, digest, problems)
  }
}

// ----------------------------------------------------------------------
// driver_chains
// ----------------------------------------------------------------------

/** The driver-bound query chains on generated TPC-H-shaped tables and
  * documents, each result collected to the driver. The seed sets the
  * tables and the query order. One op is one query.
  */
final class DriverChains(seed: Long, orders: Int, docs: Int, queries: Seq[String]) extends Workload {
  val name = "driver_chains"
  private val callOf = ListMap(
    "q143_pagerank" -> "graph.pagerank", "q164_bpe_token_budget" -> "text.bpe",
    "q246_rec_holdout_eval" -> "operators.cf_holdout", "q324_lsh_backtest" -> "dedup.lsh_backtest")
  private val order = new scala.util.Random(seed).shuffle(queries.toVector)
  val ops: Int = order.size
  val calls: Seq[String] = queries.map(callOf)
  override val warmOps: Int = ops // every query is its own code path
  private val star = Gen.star(seed, orders, nCust = orders / 10, nParts = 2000, nDocs = docs)
  private lazy val entries = graft.SparkEntry.queries
  private var sfDir = ""

  def shape: ListMap[String, Long] = ListMap("queries" -> ops.toLong, "orders" -> star.orders.size.toLong,
    "lineitems" -> star.lines.size.toLong, "documents" -> star.docs.size.toLong)
  def shares: ListMap[String, Double] = ListMap("lines_per_order" -> star.lines.size.toDouble / star.orders.size)

  def prepare(spark: SparkSession, dir: File): Unit = {
    sfDir = new File(dir, "sf").getPath
    Inputs.orders(spark, star.orders).write.mode("overwrite").parquet(s"$sfDir/orders.parquet")
    Inputs.lines(spark, star.lines).write.mode("overwrite").parquet(s"$sfDir/lineitem.parquet")
    Inputs.docs(spark, star.docs).write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
  }

  def pass(spark: SparkSession, out: File, rec: Option[Recorder], upTo: Int): Pass = {
    val secs = mutable.ArrayBuffer.empty[Op]
    val failed = mutable.Set.empty[Int]
    val problems = mutable.ArrayBuffer.empty[String]
    val digest = new Stats.Digest()
    order.take(upTo).zipWithIndex.foreach { case (q, i) =>
      try {
        val (res, s) = timed(rec match {
          case None    => rows(entries(q)(spark, sfDir))
          case Some(r) => r(callOf(q))(rows(entries(q)(spark, sfDir)))
        })
        if (res.isEmpty) { failed += i; problems += s"$q returned no rows" }
        else secs += s
        digest.addAll(res.map(q + "\u0001" + _))
      } catch { case e: Exception =>
        failed += i; problems += s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    Pass(secs.toVector, failed.toSet, digest.hex, problems.toVector)
  }
}

/** DataFrames over generated rows, in the testdata's column types. */
object Inputs {
  def docs(spark: SparkSession, ds: Seq[Gen.Docs.Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

  def vecs(spark: SparkSession, vs: Seq[Gen.Docs.Vec]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map(v => Row(v.id, v.v.toSeq, v.label)), 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))

  def orders(spark: SparkSession, os: Seq[Gen.Order]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(os.map(o =>
      Row(o.key, o.cust, o.status, o.price, new java.sql.Timestamp(o.dateMs), o.prio)), 1),
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))))

  def lines(spark: SparkSession, ls: Seq[Gen.Line]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ls.map(l =>
      Row(l.order, l.part, l.supp, l.num, l.qty, l.price, l.disc, l.tax, l.flag, l.status,
        new java.sql.Timestamp(l.shipMs))), 1),
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampType))))
}
