package graft.tools

import graft.pipelines.QalertPipeline
import org.apache.spark.sql.{Row, SparkSession}
import java.nio.file.Files

/** Consumer-style driver: runs the flagship 311 pipeline end-to-end on
  * a generated raw ndjson drop (with a deliberately dirty line) through
  * `QalertPipeline.runBatch`, the path the hourly DAG runs, and prints
  * the quarantine count, the integrated master and the scrubbed export.
  * The executable "sample code through the public API".
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val city    = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
    val enclave = "POLYGON((8 8, 9 8, 9 9, 8 9, 8 8))"
    val zones = Map(
      "neighborhood" -> Seq(
        ("southside", "POLYGON((0 0, 10 0, 10 5, 0 5, 0 0))", 0L, None: Option[Long]),
        ("northside", "POLYGON((0 5, 10 5, 10 10, 0 10, 0 5))", 0L, None: Option[Long])))

    def line(id: Long, master: Long, status: Int, comments: String): String =
      s"""{"id": $id, "master": $master, "status": $status, "typeId": 1, "typeName": "Pothole", "addDateUnix": 1600000000, "lastActionUnix": 1600001000, "closeDate": null, "streetNum": "123", "streetName": "Main St", "crossStreetName": null, "streetId": 7, "crossStreetId": 8, "cityName": "Pittsburgh", "latitude": 2.0, "longitude": 2.0, "comments": "$comments", "privateNotes": "n", "origin": "Call Center", "dept": "DPW", "addDate": "x", "lastAction": "x", "displayDate": "x", "displayLastAction": "x", "district": "x", "submitter": "x", "priorityValue": 1, "aggregatorId": 2, "priorityToDisplay": "x", "aggregatorInfo": "x", "resumeDate": null, "cityId": 1}"""

    val dir = Files.createTempDirectory("demo").toFile
    val f = new java.io.File(dir, "drop.json")
    Files.write(f.toPath, (Seq(
      line(1, 0, 0, "John Doe left a mess on Murray Ave, call 412-555-1234"),
      line(2, 1, 0, "child ticket"),
      line(3, 0, 1, "closed one")) ++
      Seq(line(4, 0, 0, "dirty pair A") + line(5, 0, 3, "dirty pair B"))
    ).mkString("\n").getBytes)

    // empty masters take their schema from an empty drop run through
    // the same stages
    val none = spark.createDataFrame(java.util.Collections.emptyList[Row](), QalertPipeline.rawSchema)
    val empty = QalertPipeline.emptyMasters(spark, QalertPipeline.enrich(
      QalertPipeline.formatDedupe(QalertPipeline.transform(none)), city, enclave, zones))
    val (masters, export, quarantine) =
      QalertPipeline.runBatch(spark, f.getPath, empty, city, enclave, zones)

    println(s"quarantined lines: ${quarantine.count()}")
    println("=== all_linked_requests (masters) ===")
    masters.allLinked.select("id", "status_name", "address_type", "neighborhood",
      "num_requests", "anon_comments").orderBy("id").show(false)
    println("=== scrubbed export ===")
    export.select("id", "anon_input_address", "anon_comments", "child_tickets_json")
      .orderBy("id").show(false)
    spark.stop()
  }
}
