package graft

import graft.pipelines.QalertPipeline
import graft.pipelines.QalertPipeline.Masters
import graft.tables.MasterTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end slice (SURVEY §7.2): raw dirty ndjson → transform chain →
  * city-limits + revgeo enrichment → master integration over two
  * batches → scrubbed export. One of everything.
  */
class QalertPipelineSpec extends SparkSpec {

  private val cityWkt    = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
  private val enclaveWkt = "POLYGON((8 8, 9 8, 9 9, 8 9, 8 8))"
  private val zones = Map(
    "neighborhood" -> Seq(
      ("southside", "POLYGON((0 0, 10 0, 10 5, 0 5, 0 0))", 0L, None: Option[Long]),
      ("northside", "POLYGON((0 5, 10 5, 10 10, 0 10, 0 5))", 0L, None: Option[Long])),
    "council_district" -> Seq(
      ("d1", "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))", 0L, None: Option[Long])))

  private def j(id: Long, master: Long, status: Int, sNum: String, sName: String,
                lat: Double, long: Double, comments: String, tpe: String = "Pothole"): String =
    s"""{"id": $id, "master": $master, "status": $status, "typeId": 1, "typeName": "$tpe", """ +
      s""""addDateUnix": 1600000000, "lastActionUnix": 1600001000, "closeDate": null, """ +
      s""""streetNum": ${if (sNum == null) "null" else "\"" + sNum + "\""}, """ +
      s""""streetName": ${if (sName == null) "null" else "\"" + sName + "\""}, """ +
      s""""crossStreetName": null, "streetId": 7, "crossStreetId": 8, "cityName": "Pittsburgh", """ +
      s""""latitude": $lat, "longitude": $long, "comments": "$comments", "privateNotes": "note", """ +
      s""""origin": "Call Center", "dept": "DPW", "addDate": "x", "lastAction": "x", """ +
      s""""displayDate": "x", "displayLastAction": "x", "district": "x", "submitter": "x", """ +
      s""""priorityValue": 1, "aggregatorId": 2, "priorityToDisplay": "x", "aggregatorInfo": "x", """ +
      s""""resumeDate": null, "cityId": 1}"""

  /** A drop file under `dir` holding `lines`. */
  private def drop(dir: java.io.File, name: String, lines: Seq[String]): String = {
    val f = new java.io.File(dir, name)
    Files.write(f.toPath, lines.mkString("\n").getBytes)
    f.getPath
  }

  /** A drop read, repaired, transformed and geo-enriched, as runBatch
    * feeds it to integrate.
    */
  private def shaped(path: String): DataFrame = {
    val (raw, _) = graft.sources.JsonSource.readRepaired(spark, path, QalertPipeline.rawSchema)
    QalertPipeline.enrich(QalertPipeline.formatDedupe(QalertPipeline.transform(raw)),
      cityWkt, enclaveWkt, zones)
  }

  /** Both masters' schemas (names, types, order, nullability) as
    * integrate and runBatch produced them before the keyed merge, with
    * this suite's two zone families.
    */
  private val statusDDL = "id STRING,parent_ticket_id STRING,status_code STRING," +
    "request_type_id STRING,request_type_name STRING,create_date_unix BIGINT," +
    "last_action_unix BIGINT,pii_street_num STRING,street STRING,cross_street STRING," +
    "streetId STRING,crossStreetId STRING,city STRING,pii_lat DOUBLE NOT NULL," +
    "pii_long DOUBLE NOT NULL,pii_comments STRING,pii_private_notes STRING,origin STRING," +
    "dept STRING,anon_comments STRING,create_date_unix_utc STRING,create_date_unix_est STRING," +
    "last_action_unix_utc STRING,last_action_unix_est STRING,status_name STRING," +
    "closed_date_unix BIGINT,closed_date_utc STRING,closed_date_est STRING," +
    "child_ticket BOOLEAN NOT NULL,address_type STRING NOT NULL,pii_input_address STRING," +
    "anon_lat DOUBLE,anon_long DOUBLE,anon_input_address STRING,neighborhood STRING," +
    "council_district STRING"
  private val linkedDDL = statusDDL +
    ",child_tickets ARRAY<STRUCT<child_id: STRING, child_comments: STRING, child_notes: STRING>>" +
    ",num_requests BIGINT NOT NULL"

  /** `line` without its `field` key. */
  private def without(line: String, field: String): String =
    line.replaceFirst(s""""$field": -?\\d+, """, "")

  test("integrate's keyed merge equals the reference's step-by-step " +
    "composition of MasterTables primitives, row for row, over two drops") {
    val dir = tempDir("qalert_diff").toFile
    val d1 = drop(dir, "d1.json", Seq(
      j(1, 0, 0, "123", "Main St", 2.0, 2.0, "parent one"),
      j(2, 0, 1, "456", "Oak Ave", 7.0, 7.0, "closed parent"),
      j(3, 1, 0, "123", "Main St", 2.0, 2.0, "child of 1"),      // parent + child, one drop
      j(6, 0, 0, "9", "Edge St", 3.0, 3.0, "parent six"),
      j(9, 0, 0, "1", "Nine St", 4.0, 4.0, "nine, first row"),   // two rows, one parent id
      j(9, 0, 0, "1", "Nine St", 4.0, 4.0, "nine, second row"),
      j(11, 999, 0, "1", "Far St", 4.0, 4.0, "orphan child"),
      j(12, 0, 1, "12", "Twelve St", 4.0, 4.0, "parent twelve"),
      without(j(0, 1, 0, "5", "Elm St", 2.0, 2.0, "child of 1 without an id"), "id"), // NULL child_id
      without(without(j(0, 0, 0, "5", "Elm St", 2.0, 2.0, "no id, no parent"), "id"), "master"),
      without(j(0, 0, 0, "5", "Elm St", 2.0, 2.0, "parent without an id"), "id")))
    val d2 = drop(dir, "d2.json", Seq(
      j(6, 2, 0, "9", "Edge St", 3.0, 3.0, "was parent now child"), // master parent → child
      j(2, 0, 2, "456", "Oak Ave", 7.0, 7.0, "status back to NULL"), // NULL status_name/closed_*
      j(3, 1, 0, "123", "Main St", 2.0, 2.0, "child of 1, new comments"),
      j(13, 1, 0, "13", "Main St", 2.0, 2.0, "second child of 1"),
      j(12, 1, 0, "12", "Twelve St", 4.0, 4.0, "twelve as a child"), // deleted…
      j(12, 0, 0, "12", "Twelve St", 4.0, 4.0, "twelve as a parent"), // …and back as new
      j(14, 12, 0, "14", "Twelve St", 4.0, 4.0, "child of twelve"),
      j(15, 0, 0, "15", "Fresh St", 5.0, 5.0, "fresh parent"),
      j(16, 15, 0, "16", "Fresh St", 5.0, 5.0, "child of fresh"),
      j(17, 9, 0, "17", "Nine St", 4.0, 4.0, "child of nine"),
      j(18, 777, 0, "18", "Far St", 4.0, 4.0, "another orphan"),
      without(without(j(0, 0, 0, "5", "Elm St", 2.0, 2.0, "no id, no parent, again"), "id"), "master"),
      without(j(0, 0, 0, "5", "Elm St", 2.0, 2.0, "another parent without an id"), "id")))

    val updateCols = Seq("status_code", "status_name", "last_action_unix",
      "last_action_unix_utc", "last_action_unix_est", "closed_date_unix",
      "closed_date_utc", "closed_date_est")
    def reference(m: Masters, batch: DataFrame): Masters = {
      val parents  = batch.filter(!col("child_ticket"))
      val children = batch.filter(col("child_ticket"))
      val cleaned = MasterTables.deleteMatching(m.allLinked, children.select(col("id")), Seq("id"))
      val withNew = cleaned.unionByName(parents
        .join(cleaned.select(col("id")), Seq("id"), "left_anti")
        .withColumn("child_tickets", array().cast(m.allLinked.schema("child_tickets").dataType))
        .withColumn("num_requests", lit(1L))
        .select(cleaned.columns.map(col).toIndexedSeq: _*))
      val withChildren = MasterTables.integrateChildren(withNew,
        children.select(col("parent_ticket_id"), col("id").as("child_id"),
          col("anon_comments").as("child_comments"), col("pii_private_notes").as("child_notes")),
        parentKey = "id", childParentKey = "parent_ticket_id",
        childCols = Seq("child_id", "child_comments", "child_notes"))
      Masters(MasterTables.syncUpdate(withChildren, parents, Seq("id"), updateCols),
        MasterTables.deleteOldInsertNew(m.currentStatus, batch, Seq("id")))
    }
    // child order within an array is shuffle order in both: compare sorted
    def rows(df: DataFrame): Seq[String] = {
      val d = if (df.columns.contains("child_tickets"))
        df.withColumn("child_tickets", array_sort(col("child_tickets"))) else df
      d.collect().map(_.toString).toSeq.sorted
    }
    val b1 = shaped(d1)
    val b2 = shaped(d2)
    val empty = QalertPipeline.emptyMasters(spark, b1)
    var (got, want) = (empty, empty)
    for (b <- Seq(b1, b2)) {
      got = QalertPipeline.integrate(got, b)
      want = reference(want, b)
      assert(got.allLinked.schema.toDDL === linkedDDL)
      assert(got.currentStatus.schema.toDDL === statusDDL)
      assert(got.allLinked.schema === want.allLinked.schema)
      assert(got.currentStatus.schema === want.currentStatus.schema)
      assert(rows(got.allLinked) === rows(want.allLinked))
      assert(rows(got.currentStatus) === rows(want.currentStatus))
    }

    // the cases are really there
    val linked = got.allLinked.select(col("id"), col("status_name"), col("num_requests"),
        transform(col("child_tickets"), c => c("child_id")).as("kids"))
      .collect().map(r => (Option(r.getString(0)), (Option(r.getString(1)), r.getLong(2),
        r.getSeq[String](3).map(Option(_)).sortBy(_.getOrElse(""))))).toSeq
    val byId = linked.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    assert(!byId.contains(Some("6")), "a master parent re-arriving as a child is deleted")
    assert(byId(Some("1")) === Seq((Some("open"), 5L,
      Seq(None, Some("12"), Some("13"), Some("3")))))
    assert(byId(Some("2")) === Seq((None, 2L, Seq(Some("6")))), "status set to NULL")
    assert(byId(Some("9")).map(_._3) === Seq(Seq(Some("17")), Seq(Some("17"))))
    assert(byId(Some("12")) === Seq((Some("open"), 2L, Seq(Some("14")))))
    assert(byId(Some("15")) === Seq((Some("open"), 2L, Seq(Some("16")))))
    assert(byId(None).size === 2, "a NULL-id parent is inserted by each drop")
    assert(Seq("11", "18", "999", "777").forall(k => !byId.contains(Some(k))))
    val kid3 = got.allLinked.filter(col("id") === "1")
      .select(explode(col("child_tickets")).as("c")).filter(col("c.child_id") === "3")
      .select(col("c.child_comments")).collect().map(_.getString(0))
    assert(kid3.toSeq === Seq("child of 1, new comments"))
  }

  /** Two small drops: parents, children of both drops' parents, a
    * re-arriving parent with a new status, a false parent.
    */
  private def series(dir: java.io.File): (String, String) = (
    drop(dir, "s1.json", (1 to 8).map(i =>
      j(i, if (i % 4 == 0) i - 1 else 0, i % 2, s"$i", "Main St", 2.0 + i * 0.5, 2.0, s"ticket $i"))),
    drop(dir, "s2.json", Seq(
      j(1, 0, 1, "1", "Main St", 2.5, 2.0, "ticket 1 closes"),
      j(5, 3, 0, "5", "Main St", 4.5, 2.0, "five was a parent"),
      j(9, 0, 0, "9", "Main St", 6.5, 2.0, "ticket 9"),
      j(10, 9, 0, "10", "Main St", 6.5, 2.0, "child of 9"),
      j(11, 2, 0, "11", "Main St", 3.0, 2.0, "child of 2"))))

  test("runBatch returns both masters already checkpointed under reliable " +
    "checkpoints (a lazy cut would run after the batch is released)") {
    def cut(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.getOrElse(fail(s"not a checkpointed frame:\n${df.queryExecution.analyzed}"))
    val (f1, f2) = series(tempDir("qalert_reliable_in").toFile)
    val flag = graft.state.Checkpoints.ReliableFlag
    val ckpt = tempDir("qalert_reliable_ckpt")
    org.apache.spark.SpecSparkInternals.withCheckpointDir(spark.sparkContext, ckpt.toString) {
      spark.conf.set(flag, "true")
      try {
        val (m1, _, _) = QalertPipeline.runBatch(spark, f1, QalertPipeline.emptyMasters(spark, shaped(f1)),
          cityWkt, enclaveWkt, zones)
        assert(cut(m1.allLinked).isCheckpointed && cut(m1.currentStatus).isCheckpointed)
        val (m2, export2, _) = QalertPipeline.runBatch(spark, f2, m1, cityWkt, enclaveWkt, zones)
        assert(cut(m2.allLinked).isCheckpointed && cut(m2.currentStatus).isCheckpointed)
        assert(m2.currentStatus.count() === 11)
        assert(export2.filter(col("id") === "9").count() === 1)
      } finally spark.conf.unset(flag)
    }
  }

  test("runBatch on a later drop stays within its job budget, and every " +
    "job is named after the cut that ran it") {
    val (f1, f2) = series(tempDir("qalert_jobs").toFile)
    val (m1, _, _) = QalertPipeline.runBatch(spark, f1, QalertPipeline.emptyMasters(spark, shaped(f1)),
      cityWkt, enclaveWkt, zones)
    val ((m2, _, _), jobs) =
      jobsDuring(QalertPipeline.runBatch(spark, f2, m1, cityWkt, enclaveWkt, zones))
    assert(m2.currentStatus.count() === 11)
    info(s"${jobs.size} jobs; stage names: ${jobs.flatten.distinct.sorted.mkString(", ")}")
    // local[4]: 19 jobs with the batch persisted under two master cuts
    // (before the batch cut), 13 with the batch cut alone, 8 with the
    // keyed merge
    assert(jobs.size <= 10, s"runBatch ran ${jobs.size} jobs")
    assert(jobs.flatten.toSet === Set("qalert.batch", "qalert.all_linked", "qalert.current_status"))
  }

  test("full batch + incremental second batch") {
    val dir = tempDir("qalert").toFile
    val batch1 = Seq(
      j(1, 0, 0, "123", "Main St", 2.0, 2.0, "John Doe dumped trash"), // parent, southside
      j(2, 0, 1, "456", "Oak Ave", 7.0, 7.0, "pothole here"),          // closed parent, northside
      j(3, 1, 0, "123", "Main St", 2.0, 2.0, "child of 1"),            // child of 1
      j(4, 0, 0, null, null, 0.0, 0.0, "no location"),                 // Missing
      j(5, 0, 0, "1", "Far St", 50.0, 50.0, "outside city"),           // outside city
      // dirty line: two objects concatenated
      j(6, 0, 0, "9", "Edge St", 3.0, 3.0, "first of pair") +
        j(7, 0, 3, "10", "Edge St", 3.0, 3.0, "second of pair")
    )
    val f1 = new java.io.File(dir, "batch1.json")
    Files.write(f1.toPath, batch1.mkString("\n").getBytes)

    val empty = {
      val (raw, _) = graft.sources.JsonSource.readRepaired(spark, f1.getPath, QalertPipeline.rawSchema)
      val shaped = QalertPipeline.enrich(
        QalertPipeline.formatDedupe(QalertPipeline.transform(raw)),
        cityWkt, enclaveWkt, zones)
      QalertPipeline.emptyMasters(spark, shaped)
    }

    val (m1, export1, quarantine1) = QalertPipeline.runBatch(
      spark, f1.getPath, empty, cityWkt, enclaveWkt, zones)
    val linked1 = m1.allLinked.cache()

    // 7 rows, 6 parents (ids 1,2,4,5,6,7) + 1 child
    assert(m1.currentStatus.count() === 7)
    assert(quarantine1.count() === 0, "repaired dirty line should parse")
    assert(linked1.count() === 6)

    // address classification
    val types = m1.currentStatus.select("id", "address_type")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(types("1") === "Precise")
    assert(types("4") === "Missing")
    assert(types("5") === "Outside of City")

    // geo enrichment
    val hoods = m1.currentStatus.select("id", "neighborhood")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(hoods("1") === Some("southside"))
    assert(hoods("2") === Some("northside"))
    assert(hoods("5") === None)

    // child aggregation onto parent 1
    val p1 = linked1.filter(col("id") === "1").head()
    assert(p1.getAs[Seq[_]]("child_tickets").length === 1)
    assert(p1.getAs[Long]("num_requests") === 2L)

    // closed parent got closed_* copied from last_action
    val p2 = linked1.filter(col("id") === "2").head()
    assert(p2.getAs[String]("status_name") === "closed")
    assert(p2.getAs[Long]("closed_date_unix") === 1600001000L)

    // PII contract on export
    val exportCols = export1.columns.toSet
    assert(!exportCols.exists(_.startsWith("pii_")), "no pii_ columns exported")
    val e1 = export1.filter(col("id") === "1").head()
    assert(e1.getAs[String]("anon_comments") === "[PERSON_NAME] dumped trash")
    assert(e1.getAs[String]("anon_input_address").startsWith("1XX Main St"))

    // ---- batch 2: ticket 6 re-arrives as child of 2; ticket 2 closes out; new ticket 8
    val batch2 = Seq(
      j(6, 2, 0, "9", "Edge St", 3.0, 3.0, "was parent now child"), // false parent repair
      j(2, 0, 1, "456", "Oak Ave", 7.0, 7.0, "update"),
      j(8, 0, 0, "77", "New St", 4.0, 4.0, "fresh ticket"))
    val f2 = new java.io.File(dir, "batch2.json")
    Files.write(f2.toPath, batch2.mkString("\n").getBytes)

    val (m2, export2, _) = QalertPipeline.runBatch(
      spark, f2.getPath, m1, cityWkt, enclaveWkt, zones)
    val linked2 = m2.allLinked.cache()
    assert(m2.allLinked.schema.toDDL === linkedDDL && m2.currentStatus.schema.toDDL === statusDDL)

    // false parent 6 removed from master parents
    assert(linked2.filter(col("id") === "6").count() === 0)
    // re-arrived as child of 2
    val p2b = linked2.filter(col("id") === "2").head()
    assert(p2b.getAs[Seq[_]]("child_tickets").length === 1)
    // new parent 8 inserted
    assert(linked2.filter(col("id") === "8").count() === 1)
    // current status upserted: still one row per id
    assert(m2.currentStatus.filter(col("id") === "2").count() === 1)
    assert(m2.currentStatus.count() === 8) // ids 1..8

    assert(export2.filter(col("id") === "8").count() === 1)
  }

  test("integrate is idempotent: re-running the same batch leaves masters unchanged") {
    val dir = tempDir("qalert3").toFile
    val lines = Seq(
      j(1, 0, 0, "123", "Main St", 2.0, 2.0, "parent one"),
      j(2, 0, 1, "456", "Oak Ave", 7.0, 7.0, "closed parent"),
      j(3, 1, 0, "123", "Main St", 2.0, 2.0, "child of 1"),
      j(4, 1, 0, "124", "Main St", 2.0, 2.0, "second child of 1"))
    val f = new java.io.File(dir, "b.json")
    Files.write(f.toPath, lines.mkString("\n").getBytes)

    val (raw, _) = graft.sources.JsonSource.readRepaired(spark, f.getPath, QalertPipeline.rawSchema)
    val shaped = QalertPipeline.enrich(
      QalertPipeline.formatDedupe(QalertPipeline.transform(raw)), cityWkt, enclaveWkt, zones)
    val m1 = QalertPipeline.integrate(QalertPipeline.emptyMasters(spark, shaped), shaped)
    val m2 = QalertPipeline.integrate(m1, shaped) // re-run, same batch

    // child arrays must not grow on the re-run
    val p1 = m2.allLinked.filter(col("id") === "1").head()
    assert(p1.getAs[Seq[_]]("child_tickets").length === 2)
    assert(p1.getAs[Long]("num_requests") === 3L)
    // whole master frames unchanged (unordered compare, both ways)
    assert(m2.allLinked.exceptAll(m1.allLinked).count() === 0)
    assert(m1.allLinked.exceptAll(m2.allLinked).count() === 0)
    assert(m2.currentStatus.exceptAll(m1.currentStatus).count() === 0)
    assert(m1.currentStatus.exceptAll(m2.currentStatus).count() === 0)
  }

  test("private request types filtered from export (drop_pii row filter)") {
    val dir = tempDir("qalert2").toFile
    val lines = Seq(
      j(1, 0, 0, "1", "A St", 2.0, 2.0, "ok", tpe = "Pothole"),
      j(2, 0, 0, "2", "B St", 2.0, 2.0, "hidden", tpe = "Private Violation"))
    val f = new java.io.File(dir, "b.json")
    Files.write(f.toPath, lines.mkString("\n").getBytes)
    val (raw, _) = graft.sources.JsonSource.readRepaired(spark, f.getPath, QalertPipeline.rawSchema)
    val shaped = QalertPipeline.enrich(
      QalertPipeline.formatDedupe(QalertPipeline.transform(raw)), cityWkt, enclaveWkt, zones)
    val m = QalertPipeline.integrate(QalertPipeline.emptyMasters(spark, shaped), shaped)
    val export = QalertPipeline.dropPiiForExport(m.allLinked, Seq("Private Violation"))
    assert(export.count() === 1)
    assert(export.head().getAs[String]("id") === "1")
  }

  test("NULL parent_ticket_id is a child (reference parity: Python " +
    "`parent != \"0\"` is True for None) — the row reaches the " +
    "current-status master instead of vanishing from both branches") {
    val dir = tempDir("qalert3").toFile
    // id=7 has NO master key at all -> parent_ticket_id NULL
    val noMaster =
      """{"id": 7, "status": 0, "typeId": 1, "typeName": "Pothole", """ +
        """"addDateUnix": 1600000000, "lastActionUnix": 1600001000, """ +
        """"streetNum": "1", "streetName": "A St", "cityName": "Pgh", """ +
        """"latitude": 2.0, "longitude": 2.0, "comments": "x", "privateNotes": "y"}"""
    val f = new java.io.File(dir, "b.json")
    Files.write(f.toPath, (Seq(j(1, 0, 0, "1", "A St", 2.0, 2.0, "ok")) :+ noMaster)
      .mkString("\n").getBytes)
    val (raw, _) = graft.sources.JsonSource.readRepaired(spark, f.getPath, QalertPipeline.rawSchema)
    val shaped = QalertPipeline.enrich(
      QalertPipeline.formatDedupe(QalertPipeline.transform(raw)), cityWkt, enclaveWkt, zones)
    assert(shaped.filter(col("id") === "7").head().getAs[Boolean]("child_ticket") === true)
    val m = QalertPipeline.integrate(QalertPipeline.emptyMasters(spark, shaped), shaped)
    // parent-less child: absent from all_linked (reference's IN guard),
    // present in the current-status snapshot — the two masters agree
    assert(m.currentStatus.filter(col("id") === "7").count() === 1)
    assert(m.allLinked.filter(col("id") === "7").count() === 0)
  }

  test("export JSON drops null-id child structs (reference's WHERE " +
    "child_id IS NOT NULL) and NOT IN excludes NULL request types") {
    import spark.implicits._
    val master = Seq(
      ("1", "0", false, "open", "Pothole", 1L, "u", "e", 2L, null.asInstanceOf[java.lang.Long],
        "Precise", "a", 1.0, 1.0, "c", 2L,
        Seq(("c1", "cc", "cn"), (null, "xx", "yy"))),
      ("2", "0", false, "open", null, 1L, "u", "e", 2L, null.asInstanceOf[java.lang.Long],
        "Precise", "a", 1.0, 1.0, "c", 1L, Seq.empty[(String, String, String)]))
      .toDF("id", "parent_ticket_id", "child_ticket", "status_name", "request_type_name",
        "create_date_unix", "create_date_unix_utc", "create_date_unix_est",
        "last_action_unix", "closed_date_unix", "address_type", "anon_input_address",
        "anon_lat", "anon_long", "anon_comments", "num_requests", "kids")
      .withColumn("child_tickets", expr(
        "transform(kids, k -> struct(k._1 as child_id, k._2 as child_comments, k._3 as child_notes))"))
      .drop("kids")
    val out = QalertPipeline.dropPiiForExport(master, Seq("Private Violation"))
    val rows = out.collect()
    assert(rows.length === 1, "NULL request_type_name excluded like SQL NOT IN")
    val json = rows(0).getAs[String]("child_tickets_json")
    assert(json.contains("c1") && !json.contains("yy"),
      "null-id child struct filtered from the export JSON")
  }
}
