package graft

import graft.geo.Geo
import org.apache.spark.sql.functions._

class GeoSpec extends SparkSpec {
  import spark.implicits._

  val unitSquare = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
  val triangle   = "POLYGON((20 20, 30 20, 25 30, 20 20))"

  test("parseWkt + contains: basic ray casting") {
    val p = Geo.parseWkt(unitSquare).head
    assert(p.contains(5, 5))
    assert(!p.contains(15, 5))
    assert(!p.contains(-1, -1))
    val t = Geo.parseWkt(triangle).head
    assert(t.contains(25, 22))
    assert(!t.contains(20.0, 29.0))
  }

  test("parseWkt: MULTIPOLYGON outer rings") {
    val polys = Geo.parseWkt(
      "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
    assert(polys.length === 2)
    assert(polys.exists(_.contains(0.5, 0.5)))
    assert(polys.exists(_.contains(5.5, 5.5)))
  }

  val donut = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"

  test("polygon holes: even-odd containment excludes the hole (ST_CONTAINS parity)") {
    val rings = Geo.parseWkt(donut)
    assert(rings.length === 2, "hole ring must be parsed, not dropped")
    assert(Geo.ringsContain(rings, 1.0, 1.0), "annulus point is inside")
    assert(!Geo.ringsContain(rings, 5.0, 5.0), "hole interior is OUTSIDE the donut")
    assert(!Geo.ringsContain(rings, 11.0, 5.0), "beyond the outer ring")
    // MULTIPOLYGON with a holed part plus a solid part
    val mp = Geo.parseWkt(
      "MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3)), ((20 20, 22 20, 22 22, 20 22, 20 20)))")
    assert(mp.length === 3)
    assert(Geo.ringsContain(mp, 1.0, 1.0))
    assert(!Geo.ringsContain(mp, 5.0, 5.0))
    assert(Geo.ringsContain(mp, 21.0, 21.0))
  }

  test("stContainsWkt honors holes in the column expression path") {
    val df = Seq((1L, 1.0, 1.0), (2L, 5.0, 5.0)).toDF("id", "long", "lat")
    val out = df.select(col("id"),
        Geo.stContainsWkt(donut, col("long"), col("lat")).as("in"))
      .as[(Long, Boolean)].collect().toMap
    assert(out(1L) && !out(2L))
  }

  test("centroid: unit square centroid is its middle") {
    val (cx, cy) = Geo.parseWkt(unitSquare).head.centroid
    assert(math.abs(cx - 5.0) < 1e-9 && math.abs(cy - 5.0) < 1e-9)
  }

  test("cityLimits: outside city or inside enclave => 'Outside of City' (geo_queries.py:123-154)") {
    val df = Seq(
      (1L, 5.0, 5.0, "Precise"),     // inside city
      (2L, 15.0, 5.0, "Precise"),    // outside city
      (3L, 2.0, 2.0, "Precise")      // inside enclave (Mt-Oliver analog)
    ).toDF("id", "long", "lat", "address_type")
      .withColumnRenamed("long", "lng")
    val out = Geo.cityLimits(
      df.withColumnRenamed("lng", "long"),
      cityWkt = unitSquare,
      enclaveWkt = "POLYGON((1 1, 3 1, 3 3, 1 3, 1 1))",
      latCol = "lat", longCol = "long")
    val m = out.select("id", "address_type").as[(Long, String)].collect().toMap
    assert(m(1L) === "Precise")
    assert(m(2L) === "Outside of City")
    assert(m(3L) === "Outside of City")
  }

  test("cityLimits: NULL coordinates keep existing address_type (WHERE lat IS NOT NULL, geo_queries.py:152-154)") {
    val df = Seq(
      (1L, Option(15.0), Option(5.0), "Missing"),
      (2L, Option.empty[Double], Option.empty[Double], "Missing"),
      (3L, Option(5.0), Option.empty[Double], "Precise")
    ).toDF("id", "long", "lat", "address_type")
    val out = Geo.cityLimits(df, cityWkt = unitSquare,
      enclaveWkt = "POLYGON((1 1, 3 1, 3 3, 1 3, 1 1))",
      latCol = "lat", longCol = "long")
    val m = out.select("id", "address_type").as[(Long, String)].collect().toMap
    assert(m(1L) === "Outside of City", "non-null coords still classified")
    assert(m(2L) === "Missing", "both-null untouched")
    assert(m(3L) === "Precise", "one-null untouched")
  }

  test("revGeoZone: time-bounded zone assignment (geo_queries.py:35-108)") {
    val zones = Seq(
      ("oldtown", unitSquare, 0L, Some(1000L)),   // valid until t=1000
      ("newtown", unitSquare, 1001L, None))       // valid after
    val pts = Seq(
      (1L, 5.0, 5.0, 500L),    // in polygon, old era -> oldtown
      (2L, 5.0, 5.0, 2000L),   // in polygon, new era -> newtown
      (3L, 50.0, 50.0, 500L)   // outside both
    ).toDF("id", "long", "lat", "create_date_unix")
    val out = Geo.revGeoZone(pts, zones, outCol = "hood",
      latCol = "lat", longCol = "long")
    val m = out.select("id", "hood").as[(Long, String)].collect().toMap
    assert(m(1L) === "oldtown")
    assert(m(2L) === "newtown")
    assert(m.get(3L).flatMap(Option(_)).isEmpty)
  }

  test("convertGeography builds WKT from coord-list strings (dataflow_utils.py:266-297)") {
    val df = Seq(
      (1L, "[{lat: 40.44, lng: -79.99}]"),
      (2L, "[{lat: 40.44, lng: -79.99}, {lat: 40.45, lng: -79.98}]"),
      (3L, ""),
      (4L, null: String))
      .toDF("id", "geo")
    val out = df.select(col("id"),
        Geo.convertGeography(col("geo"), "POINT").as("pt"),
        Geo.convertGeography(col("geo"), "POLYGON").as("poly"),
        Geo.convertGeography(col("geo")).as("bare"))
      .as[(Long, Option[String], Option[String], Option[String])]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L)._1 === Some("POINT(-79.99 40.44)"))
    assert(out(2L)._2 === Some("POLYGON((-79.99 40.44, -79.98 40.45))"))
    assert(out(2L)._3 === Some("-79.99 40.44, -79.98 40.45"))
    assert(out(3L)._1 === None) // falsy input → None, as the reference
    assert(out(4L)._1 === None)
  }

  test("wktPoint formats at fixed precision, NULL-safe") {
    val df = Seq((1L, Some(-79.5), Some(40.25)), (2L, None, Some(40.0)))
      .toDF("id", "lng", "lat")
    val out = df.select(col("id"), Geo.wktPoint(col("lng"), col("lat"), 2).as("w"))
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L) === Some("POINT(-79.50 40.25)"))
    assert(out(2L) === None)
  }

  test("parcelCentroidJoin: broadcast centroid lookup (geo_queries.py:111-120)") {
    val parcels = Seq(("0001X00001000101", unitSquare)).toDF("zone", "geometry")
    val df = Seq(("0001X00001000101", "a"), ("9999Z99999999999", "b"))
      .toDF("parc_num", "payload")
    val out = Geo.parcelCentroidJoin(df, parcels, "parc_num")
    val rows = out.orderBy("payload").collect()
    assert(rows(0).getAs[Double]("longitude") === 5.0)
    assert(rows(0).getAs[Double]("latitude") === 5.0)
    assert(rows(1).isNullAt(rows(1).fieldIndex("longitude")))
  }

  test("gridRevGeoZone: distributed grid path matches the broadcast path, " +
    "incl. cross-cell polygons, time windows, null coords, holes") {
    // polygons spanning many 0.01-degree cells, negative coords, a
    // second era for the time-window predicate, and a donut zone whose
    // hole must NOT classify (even-odd in the grid verify expression)
    val zones = Seq(
      ("alpha", "POLYGON((-0.05 -0.05, 0.05 -0.05, 0.05 0.05, -0.05 0.05, -0.05 -0.05))", 0L, Some(1000L)),
      ("beta",  "POLYGON((-0.05 -0.05, 0.05 -0.05, 0.05 0.05, -0.05 0.05, -0.05 -0.05))", 1001L, None),
      ("gamma", "POLYGON((0.10 0.10, 0.30 0.10, 0.30 0.30, 0.10 0.30, 0.10 0.10))", 0L, None),
      ("ring",  "POLYGON((0.50 0.50, 0.70 0.50, 0.70 0.70, 0.50 0.70, 0.50 0.50), (0.55 0.55, 0.65 0.55, 0.65 0.65, 0.55 0.65, 0.55 0.55))", 0L, None))
    val pts = Seq(
      (1L, java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(0.0), java.lang.Long.valueOf(500L)),
      (2L, java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(0.0), java.lang.Long.valueOf(2000L)),
      (3L, java.lang.Double.valueOf(0.2), java.lang.Double.valueOf(0.2), java.lang.Long.valueOf(1L)),
      (4L, java.lang.Double.valueOf(0.9), java.lang.Double.valueOf(0.9), java.lang.Long.valueOf(1L)),
      (5L, null.asInstanceOf[java.lang.Double], java.lang.Double.valueOf(0.0), java.lang.Long.valueOf(1L)),
      (6L, java.lang.Double.valueOf(-0.049), java.lang.Double.valueOf(0.049), java.lang.Long.valueOf(999L)),
      (7L, java.lang.Double.valueOf(0.52), java.lang.Double.valueOf(0.52), java.lang.Long.valueOf(1L)),  // annulus -> ring
      (8L, java.lang.Double.valueOf(0.60), java.lang.Double.valueOf(0.60), java.lang.Long.valueOf(1L))   // hole -> no zone
    ).toDF("id", "long", "lat", "create_date_unix")
    val zonesDf = zones
      .map { case (n, w, s0, e) => (n, w, s0, e.map(Long.box).orNull) }
      .toDF("zone", "wkt", "start_unix", "end_unix")
      .withColumn("end_unix", col("end_unix").cast("long"))
    // with codegen's interpreted fallbacks off (whole-stage and the
    // projection factory the UDF encoders use), generated code that
    // janino rejects fails the query instead of running silently slower
    val noFallback = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val prior = noFallback.map { case (k, _) => k -> spark.conf.getOption(k) }
    noFallback.foreach { case (k, v) => spark.conf.set(k, v) }
    val grid = try Geo.gridRevGeoZone(pts, zonesDf, outCol = "hood", idCol = "id",
        latCol = "lat", longCol = "long")
      .select("id", "hood").as[(Long, Option[String])].collect().toMap
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    val bcast = Geo.revGeoZone(pts, zones, outCol = "hood",
      latCol = "lat", longCol = "long")
      .select("id", "hood").as[(Long, Option[String])].collect().toMap
    assert(grid === bcast)
    assert(grid(1L) === Some("alpha") && grid(2L) === Some("beta"))
    assert(grid(3L) === Some("gamma") && grid(4L).isEmpty && grid(5L).isEmpty)
    assert(grid(6L) === Some("alpha"))
    assert(grid(7L) === Some("ring"), "annulus point classifies to the donut zone")
    assert(grid(8L).isEmpty, "hole interior must not classify")
  }

  test("multiRingCentroid: MULTIPOLYGON parts area-weight (head-only " +
    "would misplace every multi-part parcel); degenerate rings dropped") {
    import spark.implicits._
    // two unit-area squares at (0..1) and (10..11): centroid x = 5.5
    val multi = "MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),((10 0,11 0,11 1,10 1,10 0)))"
    val out = Geo.parcelCentroidJoin(
      Seq("p1").toDF("parc"), Seq(("p1", multi)).toDF("zone", "geometry"),
      parcKey = "parc").head()
    assert(math.abs(out.getAs[Double]("longitude") - 5.5) < 1e-9)
    assert(math.abs(out.getAs[Double]("latitude") - 0.5) < 1e-9)
    // malformed ring text: degenerate rings drop instead of crashing
    assert(Geo.parseWkt("POLYGON((garbage))") === Seq.empty)
    assert(Geo.parseWkt("POLYGON((1,2,3))") === Seq.empty)
  }

  test("requireGeoDomain: antimeridian-crossing, pole-touching, and " +
    "out-of-domain rings are rejected loudly, never misclassified") {
    val anti = "POLYGON((179 0, -179 0, -179 1, 179 1, 179 0))"
    val pole = "POLYGON((0 89, 1 89, 1 90, 0 90, 0 89))"
    val bad  = "POLYGON((190 0, 191 0, 191 1, 190 1, 190 0))"
    val e1 = intercept[IllegalArgumentException](
      Geo.stContainsWkt(anti, col("long"), col("lat")))
    assert(e1.getMessage.contains("antimeridian"))
    val e2 = intercept[IllegalArgumentException](
      Geo.stContainsWkt(pole, col("long"), col("lat")))
    assert(e2.getMessage.contains("pole"))
    val e3 = intercept[IllegalArgumentException](
      Geo.stContainsWkt(bad, col("long"), col("lat")))
    assert(e3.getMessage.contains("lon/lat domain"))
    intercept[IllegalArgumentException](
      Geo.revGeoZone(Seq((1L, 0.0, 0.0, 1L)).toDF("id", "long", "lat", "create_date_unix"),
        Seq(("z", anti, 0L, None)), outCol = "zone"))
    // the grid path parses zone WKT executor-side: the same rejection
    // surfaces as the task failure's cause on the first action
    val pts = Seq((1L, 179.5, 0.5, 1L)).toDF("id", "long", "lat", "create_date_unix")
    val zonesDf = Seq(("z", anti, 0L, null.asInstanceOf[java.lang.Long]))
      .toDF("zone", "wkt", "start_unix", "end_unix")
      .withColumn("end_unix", col("end_unix").cast("long"))
    val eg = intercept[Exception](
      Geo.gridRevGeoZone(pts, zonesDf, outCol = "zone", idCol = "id").collect())
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(eg).exists(c =>
      c.getMessage != null && c.getMessage.contains("antimeridian")))
    // a normal municipal zone (the reference's envelope) passes untouched
    Geo.stContainsWkt(
      "POLYGON((-80.1 40.3, -79.8 40.3, -79.8 40.6, -80.1 40.6, -80.1 40.3))",
      col("long"), col("lat"))
  }

  test("radiusNearestJoin: nearest facility in the Euclidean ball, " +
    "corner candidates beyond the radius rejected, id tie-break, " +
    "cross-cell neighbors found, uncovered points absent") {
    import spark.implicits._
    val pts = Seq((1L, 100L, 100L), (2L, 0L, 0L), (3L, 500L, 500L),
      (4L, 19L, 10L)).toDF("id", "x", "y")
    val fac = Seq(
      (10L, 105L, 100L), // d2=25 from p1 -> nearest
      (11L, 100L, 108L), // d2=64 from p1
      (12L, 109L, 109L), // |d|<=10 both axes but d2=162 > 100: rejected
      (20L, 3L, 4L),     // d2=25 from p2, ties with 21
      (21L, 4L, 3L),     // d2=25 -> min fid 20 wins
      (30L, 21L, 10L))   // neighbor CELL of p4 (cells 1 vs 2), d2=4
      .toDF("fid", "fx", "fy")
    val out = Geo.radiusNearestJoin(pts, "id", "x", "y",
      fac, "fid", "fx", "fy", cellSize = 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(1L -> ((10L, 25L)), 2L -> ((20L, 25L)),
      4L -> ((30L, 4L))))
  }

  test("gridHotspots: 8-adjacent dense cells (incl. diagonal) merge " +
    "under the min cell id, an isolated dense cell is its own " +
    "hotspot, sub-threshold cells vanish") {
    import spark.implicits._
    def cell(cx: Long, cy: Long, n: Int) = Seq.fill(n)((cx, cy))
    val pts = (cell(0, 0, 3) ++ cell(0, 1, 2) ++ cell(1, 1, 2) ++
      cell(4, 4, 2) ++ cell(7, 7, 1)).toDF("cx", "cy")
    val out = Geo.gridHotspots(pts, "cx", "cy", gridSize = 8,
      minPts = 2L, ccIters = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // (0,0)+(0,1)+(1,1) chain: diagonal (0,0)-(1,1) and the two
    // orthogonal adjacencies all merge into component 0*8+0 = 0
    assert(out === Map(
      0L -> ((3L, 7L, 3L)),   // 3 cells, 7 points, peak 3
      36L -> ((1L, 2L, 2L)))) // isolated 4*8+4
  }
}
