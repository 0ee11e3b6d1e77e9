package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Planar geometry over WKT — replaces the reference's BigQuery
  * GEOGRAPHY surface (`ST_CONTAINS`, `ST_COVERS`, `ST_GEOGPOINT`,
  * `ST_GEOGFROMTEXT`, `ST_CENTROID`, `ST_X`, `ST_Y`; all usage in
  * bq_queries/geo_queries.py).
  *
  * Implementation: ray-casting point-in-polygon on lon/lat degrees
  * (adequate for municipal-scale zones that avoid the antimeridian,
  * matching the reference's own data envelope), even-odd across rings
  * so POLYGON holes and MULTIPOLYGON parts both work. WKT is parsed
  * once per polygon — driver-side (UDF closure / broadcast) on the
  * small-zone paths, once per zone ROW on the grid scale path — and
  * never re-parsed per candidate row.
  *
  * == Planar vs spheroidal error bound ==
  * BigQuery GEOGRAPHY edges are geodesics; this module's edges are
  * straight lines in lon/lat space (equirectangular). For an edge of
  * longitude span Δλ at latitude φ, the maximum separation between
  * the geodesic and the planar segment is
  * `R · sin φ · cos φ · Δλ² / 8` (Δλ in radians, R ≈ 6 371 km) — the
  * great-circle chord's latitude bulge. At the reference's envelope
  * (Pittsburgh, φ ≈ 40.4°, zone edges ≤ 0.05° ≈ 4 km) that is
  * ≤ ~0.3 m, and ~0.02 m for typical 1 km edges: only points within
  * that sliver of a boundary can classify differently from BigQuery
  * ST_CONTAINS. The approximation degrades quadratically with edge
  * length and is UNDEFINED for rings crossing the ±180° meridian or
  * touching a pole (a planar ray cast silently misclassifies there) —
  * those inputs are rejected by [[requireGeoDomain]] on every
  * geographic path rather than answered wrong.
  */
object Geo {

  /** A parsed polygon: outer ring (lon,lat) plus precomputed bounding
    * box for a cheap reject test before the ray cast.
    */
  final case class Polygon(xs: Array[Double], ys: Array[Double]) {
    val minX: Double = xs.min; val maxX: Double = xs.max
    val minY: Double = ys.min; val maxY: Double = ys.max

    def contains(x: Double, y: Double): Boolean = {
      if (x < minX || x > maxX || y < minY || y > maxY) return false
      var inside = false
      var i = 0
      var j = xs.length - 1
      while (i < xs.length) {
        if (((ys(i) > y) != (ys(j) > y)) &&
            (x < (xs(j) - xs(i)) * (y - ys(i)) / (ys(j) - ys(i)) + xs(i)))
          inside = !inside
        j = i; i += 1
      }
      inside
    }

    /** Area-weighted centroid of the outer ring (shoelace formula) —
      * ST_CENTROID parity for the parcel-centroid join
      * (geo_queries.py:111-120).
      */
    def centroid: (Double, Double) = {
      var a = 0.0; var cx = 0.0; var cy = 0.0
      var i = 0; var j = xs.length - 1
      while (i < xs.length) {
        val cross = xs(j) * ys(i) - xs(i) * ys(j)
        a += cross
        cx += (xs(j) + xs(i)) * cross
        cy += (ys(j) + ys(i)) * cross
        j = i; i += 1
      }
      a *= 0.5
      if (a == 0.0) (xs.sum / xs.length, ys.sum / ys.length)
      else (cx / (6 * a), cy / (6 * a))
    }
  }

  /** Parse `POLYGON((x y, x y, ...))` / `MULTIPOLYGON(((...)))` WKT
    * into ALL rings — outer rings and holes alike. Containment combines
    * them with the even-odd rule ([[ringsContain]]), so a POLYGON hole
    * and a MULTIPOLYGON part need no structural distinction: a point
    * inside an odd number of rings is inside the shape. This matches
    * BigQuery `ST_CONTAINS` on donut zones (geo_queries.py:35-108);
    * the reference's own zone tables are hole-free, so hole handling
    * is latent there but correct here.
    */
  def parseWkt(wkt: String): Seq[Polygon] = {
    if (wkt == null) return Seq.empty
    val ringRe = "\\(([^()]+)\\)".r
    ringRe.findAllMatchIn(wkt).flatMap { m =>
      val pts = m.group(1).split(",").map(_.trim.split("\\s+"))
        .filter(_.length >= 2)
        .map(p => (p(0).toDouble, p(1).toDouble))
      // a degenerate ring (< 3 points — e.g. malformed coordinate
      // text) encloses no area: drop it rather than crash Polygon's
      // bbox min on an empty array
      if (pts.length < 3) None
      else Some(Polygon(pts.map(_._1), pts.map(_._2)))
    }.toSeq
  }

  /** Reject rings the planar model cannot answer correctly (see the
    * module doc's error-bound section): coordinates outside the
    * lon/lat domain, rings spanning more than 180° of longitude (the
    * signature of an antimeridian-crossing polygon naively parsed as
    * planar — no real municipal zone is wider than a hemisphere), and
    * rings touching a pole. Split such shapes at ±180° upstream; a
    * loud error here beats a silent misclassification. Returns the
    * input for call-site chaining.
    */
  def requireGeoDomain(polys: Seq[Polygon], context: String): Seq[Polygon] = {
    polys.foreach { p =>
      require(p.minX >= -180.0 && p.maxX <= 180.0 && p.minY >= -90.0 && p.maxY <= 90.0,
        s"$context: ring bbox [${p.minX},${p.minY}]..[${p.maxX},${p.maxY}] outside the lon/lat domain")
      require(p.maxX - p.minX <= 180.0,
        f"$context: ring spans ${p.maxX - p.minX}%.1f deg of longitude - antimeridian-crossing " +
          "polygons are not representable in the planar model; split at +/-180 first")
      require(p.minY > -90.0 && p.maxY < 90.0,
        s"$context: ring touches a pole - planar ray cast is undefined there")
    }
    polys
  }

  /** [[parseWkt]] + [[requireGeoDomain]] — the parse every
    * GEOGRAPHIC consumer (containment, reverse geocode, centroid)
    * goes through.
    */
  def parseGeoWkt(wkt: String, context: String): Seq[Polygon] =
    requireGeoDomain(parseWkt(wkt), context)

  /** Even-odd containment across a shape's rings: inside iff an odd
    * number of rings contain the point (outer ring yes + hole yes = 2
    * = outside the donut).
    */
  def ringsContain(rings: Seq[Polygon], x: Double, y: Double): Boolean = {
    var cnt = 0
    rings.foreach(r => if (r.contains(x, y)) cnt += 1)
    (cnt & 1) == 1
  }

  /** `ST_CONTAINS(geogFromText(wkt), ST_GEOGPOINT(long, lat))` as a
    * column expression. Polygon parsed per call site (driver-side),
    * closure-captured — use for a single fixed polygon (the city-limits
    * test, geo_queries.py:123-154).
    */
  def stContainsWkt(wkt: String, longCol: Column, latCol: Column): Column = {
    val polys = parseGeoWkt(wkt, "stContainsWkt")
    val f = udf((x: java.lang.Double, y: java.lang.Double) =>
      if (x == null || y == null) false
      else ringsContain(polys, x, y))
    f(longCol, latCol)
  }

  /** City-limits classification (build_city_limits_query,
    * geo_queries.py:123-154 / transform_enrich_requests.py:4-35): points
    * outside Pittsburgh OR inside the Mt Oliver enclave get
    * `address_type = 'Outside of City'`.
    */
  def cityLimits(df: DataFrame, cityWkt: String, enclaveWkt: String,
                 latCol: String = "lat", longCol: String = "long"): DataFrame = {
    val inCity    = stContainsWkt(cityWkt, col(longCol), col(latCol))
    val inEnclave = stContainsWkt(enclaveWkt, col(longCol), col(latCol))
    // the reference's UPDATE has WHERE lat/long IS NOT NULL
    // (geo_queries.py:152-154): null-coordinate rows keep their
    // existing address_type rather than being classified outside
    val hasCoords = col(latCol).isNotNull && col(longCol).isNotNull
    df.withColumn("address_type",
      when(hasCoords && (!inCity || inEnclave), lit("Outside of City"))
        .otherwise(col("address_type")))
  }

  /** One reverse-geocode zone join: left-join `points` against a small
    * zone table (zoneName, wkt, startDate, endDate) picking the zone
    * whose polygon contains the point AND whose validity window covers
    * the event time — build_revgeo_time_bound_query
    * (geo_queries.py:35-108), one of the 8 zone families.
    *
    * Scale design: zones are collected driver-side (they are tiny —
    * tens of polygons) and shipped in a UDF closure ≙ broadcast
    * spatial join; the fact table is never shuffled. Bounding-box
    * reject runs before any ray cast.
    */
  def revGeoZone(
      points: DataFrame, zones: Seq[(String, String, Long, Option[Long])],
      outCol: String,
      latCol: String = "lat", longCol: String = "long",
      eventUnixCol: String = "create_date_unix"): DataFrame =
    points.withColumn(outCol, revGeoZoneColumn(zones, latCol, longCol, eventUnixCol))

  /** The value [[revGeoZone]] writes: the name of the first zone whose
    * polygon contains the point and whose window covers the event time.
    */
  private def revGeoZoneColumn(
      zones: Seq[(String, String, Long, Option[Long])],
      latCol: String, longCol: String, eventUnixCol: String): Column = {
    val parsed: Seq[(String, Seq[Polygon], Long, Long)] = zones.map {
      case (name, wkt, start, end) =>
        (name, parseGeoWkt(wkt, s"revGeoZone($name)"), start, end.getOrElse(Long.MaxValue))
    }
    val f = udf((x: java.lang.Double, y: java.lang.Double, t: java.lang.Long) => {
      if (x == null || y == null) null
      else {
        val tt = if (t == null) Long.MaxValue else t.longValue()
        parsed.collectFirst {
          case (name, polys, s, e) if s <= tt && tt <= e && ringsContain(polys, x, y) => name
        }.orNull
      }
    })
    f(col(longCol), col(latCol), col(eventUnixCol))
  }

  /** Full 8-zone-family enrichment (geo_queries.py:35-108): apply
    * `revGeoZone` per zone family — neighborhoods, council districts,
    * wards, fire/police/DPW zones — as one projection, a column per
    * family in the map's order.
    */
  def revGeoTimeBound(
      points: DataFrame,
      zoneFamilies: Map[String, Seq[(String, String, Long, Option[Long])]],
      latCol: String = "lat", longCol: String = "long",
      eventUnixCol: String = "create_date_unix"): DataFrame =
    points.withColumns(ListMap(zoneFamilies.toSeq.map { case (family, zones) =>
      family -> revGeoZoneColumn(zones, latCol, longCol, eventUnixCol)
    }: _*))

  /** Distributed grid-bucketed spatial join — the scale path for when
    * the polygon table does NOT fit a broadcast (national-scale parcel
    * or zone tables, millions of polygons). Each polygon explodes to
    * the grid cells its bounding box covers; each point keys to its
    * cell; the equi-join on the packed cell key bounds exact
    * verification to co-located geometry. The shuffle keys are 64-bit
    * cell ids — a point is never compared against a polygon outside
    * its cell, so cost is corpus + polygon-cell fan-out, not their
    * product. Boundary ties resolve to the lexicographically smallest
    * zone name for determinism (zones within a reference family are
    * disjoint). Semantics match [[revGeoZone]] (validity window,
    * NULL-coordinate rows left NULL).
    *
    * `cellDeg` trades fan-out for candidate density: cells should be
    * on the order of a typical polygon's extent (0.01° ≈ 1 km for the
    * municipal families).
    */
  /** Pre-parsed ring row carried through the grid join in place of WKT
    * text: coordinates plus the bounding box for the cheap reject test.
    * Parsing happens once per ZONE row; candidate verification is the
    * codegen'd [[graft.expressions.RingsContain]] expression over this
    * struct — no per-candidate-row regex parse (the old `(wkt, x, y)`
    * UDF re-parsed per joined row, and the parse dominates the ray cast
    * at national scale).
    */
  final case class RingRow(xs: Array[Double], ys: Array[Double],
      minx: Double, maxx: Double, miny: Double, maxy: Double)

  /** One parsed payload per zone ROW: cells and rings both derive
    * from a single parse+domain-check (two separate UDFs would double
    * the regex parse on the path built for millions of polygons).
    */
  private case class ZoneParse(cells: Array[Long], rings: Seq[RingRow])

  def gridRevGeoZone(
      points: DataFrame, zones: DataFrame, outCol: String, idCol: String,
      zoneNameCol: String = "zone", wktCol: String = "wkt",
      startCol: String = "start_unix", endCol: String = "end_unix",
      latCol: String = "lat", longCol: String = "long",
      eventUnixCol: String = "create_date_unix",
      cellDeg: Double = 0.01): DataFrame = {
    def pack(cx: Long, cy: Long): Long = (cx << 32) | (cy & 0xffffffffL)
    val parseZone = udf((wkt: String) => {
      val polys = parseGeoWkt(wkt, "gridRevGeoZone")
      val cells = polys.flatMap { p =>
        val x0 = math.floor(p.minX / cellDeg).toLong
        val x1 = math.floor(p.maxX / cellDeg).toLong
        val y0 = math.floor(p.minY / cellDeg).toLong
        val y1 = math.floor(p.maxY / cellDeg).toLong
        for (cx <- x0 to x1; cy <- y0 to y1) yield pack(cx, cy)
      }.distinct.toArray
      ZoneParse(cells, polys.map(p => RingRow(p.xs, p.ys, p.minX, p.maxX, p.minY, p.maxY)))
    })

    val zoneCells = zones
      .select(col(zoneNameCol).as("__zn"),
        parseZone(col(wktCol)).as("__z"),
        col(startCol).as("__zs"),
        coalesce(col(endCol), lit(Long.MaxValue)).as("__ze"))
      .select(col("__zn"), col("__z.rings").as("__rings"),
        col("__zs"), col("__ze"), explode(col("__z.cells")).as("__cell"))
    val cx = floor(col(longCol) / cellDeg).cast("long")
    val cy = floor(col(latCol) / cellDeg).cast("long")
    val keyed = points.select(col(idCol), col(latCol), col(longCol),
        col(eventUnixCol),
        (shiftleft(cx, 32).bitwiseOR(cy.bitwiseAND(lit(0xffffffffL)))).as("__cell"))
      .where(col(latCol).isNotNull && col(longCol).isNotNull)
    val tt = coalesce(col(eventUnixCol), lit(Long.MaxValue))
    val matched = keyed.join(zoneCells, "__cell")
      .where(col("__zs") <= tt && tt <= col("__ze")
        && graft.expressions.GeoExpressions.rings_contain(
          col("__rings"), col(longCol).cast("double"), col(latCol).cast("double")))
      .groupBy(idCol).agg(min(col("__zn")).as(outCol))
    points.join(matched, Seq(idCol), "left")
  }

  /** Parcel-centroid join (geo_queries.py:111-120): broadcast-join a
    * parcel→WKT table, emit `ST_Y/ST_X(ST_CENTROID(geometry))`.
    */
  def parcelCentroidJoin(
      df: DataFrame, parcels: DataFrame, parcKey: String,
      parcelsKey: String = "zone", wktCol: String = "geometry"): DataFrame = {
    val cen = udf((wkt: String) => {
      val polys = parseGeoWkt(wkt, "parcelCentroidJoin")
      if (polys.isEmpty) null
      else { val (cx, cy) = multiRingCentroid(polys); Array(cx, cy) }
    })
    val lk = broadcast(parcels.select(
      col(parcelsKey).as("__pk"),
      cen(col(wktCol)).as("__cen")))
    df.join(lk, col(parcKey) === col("__pk"), "left")
      .withColumn("longitude", col("__cen").getItem(0))
      .withColumn("latitude", col("__cen").getItem(1))
      .drop("__pk", "__cen")
  }

  /** Area-weighted centroid across ALL rings (MULTIPOLYGON parts sum;
    * an opposite-wound hole's signed area subtracts — standard WKT
    * winding). A head-ring-only centroid would silently misplace every
    * multi-part parcel. Degenerate total area → plain vertex mean.
    */
  private[geo] def multiRingCentroid(polys: Seq[Polygon]): (Double, Double) = {
    var a = 0.0; var cx = 0.0; var cy = 0.0
    polys.foreach { p =>
      var i = 0; var j = p.xs.length - 1
      while (i < p.xs.length) {
        val cross = p.xs(j) * p.ys(i) - p.xs(i) * p.ys(j)
        a += cross
        cx += (p.xs(j) + p.xs(i)) * cross
        cy += (p.ys(j) + p.ys(i)) * cross
        j = i; i += 1
      }
    }
    a *= 0.5
    if (a == 0.0) {
      val n = polys.map(_.xs.length).sum
      (polys.flatMap(_.xs).sum / n, polys.flatMap(_.ys).sum / n)
    } else (cx / (6 * a), cy / (6 * a))
  }

  /** WKT producer twin of ConvertGeography for plain coordinate
    * columns (the `ST_GEOGPOINT(long, lat)` pattern across the
    * reference's geo SQL): formats at a fixed decimal precision so the
    * text is engine-independent. NULL if either coordinate is NULL.
    */
  def wktPoint(lng: Column, lat: Column, decimals: Int = 6): Column = {
    val fmt = s"%.${decimals}f"
    when(lng.isNull || lat.isNull, lit(null))
      .otherwise(concat(lit("POINT("), format_string(fmt, lng), lit(" "),
        format_string(fmt, lat), lit(")")))
  }

  /** ConvertGeography (dataflow_utils.py:266-297): turn the
    * reference's "[{lat: Y1, lng: X1}, {lat: Y2, lng: X2}]"
    * coordinate-list strings into WKT bodies — each pair reversed to
    * "X Y", comma-joined, wrapped in the requested geography type
    * (POLYGON gets double parens). Expression-only (regexp_extract_all
    * + transform + array_join, all codegen-friendly); the numeric text
    * is passed through verbatim, never parsed to float. Empty/NULL
    * input → NULL, matching the reference's falsy check.
    */
  def convertGeography(c: Column, geoType: String = ""): Column = {
    val pairs = regexp_extract_all(c, lit("\\{[^}]*\\}"), lit(0))
    val rev = transform(pairs, p => concat(
      regexp_extract(p, "lng: ([^,}]+)", 1), lit(" "),
      regexp_extract(p, "lat: ([^,}]+)", 1)))
    val body = array_join(rev, ", ")
    val wrapped =
      if (geoType.isEmpty) body
      else if (geoType.contains("POLYGON")) concat(lit(s"$geoType(("), body, lit("))"))
      else concat(lit(s"$geoType("), body, lit(")"))
    when(c.isNull || length(c) === 0, lit(null)).otherwise(wrapped)
  }

  /** Grid-density hotspot clustering (DBSCAN-lite; Ester et al. 1996
    * by way of the STING/grid family): cells of an INTEGER gridSize ×
    * gridSize lattice holding at least `minPts` points are dense, and
    * 8-adjacent dense cells merge into one hotspot via
    * [[graft.graph.GraphOps.connectedComponents]] (min-label +
    * pointer doubling, `ccIters` fixed horizon — both engines replay
    * the same horizon, and an unconverged run splits, never wrongly
    * merges). Isolated dense cells are their own single-cell hotspot
    * (coalesce to self — the CC operator only sees edge endpoints).
    * Output per hotspot: the min cell id as the cluster key, cell
    * count, total points, and the densest cell's count.
    *
    * Cell ids must be exact integers (hash-bucket or integer-divided
    * coordinates — no fp binning), which is what makes every count
    * and the clustering itself bit-portable across engines.
    *
    * Scale shape: one (cx, cy)-keyed count with map-side combine cuts
    * the corpus to ≤ gridSize² dense-cell rows; the neighbor explode
    * is 4 forward offsets per dense cell semi-joined against the
    * dense set (never a spatial self-join over points); CC runs on
    * the dense-cell graph only.
    */
  /** Radius-bounded nearest-neighbor join on INTEGER planar
    * coordinates: for every point, the closest facility within
    * Euclidean distance `cellSize` (squared distance ≤ cellSize²),
    * ties broken by facility id. Points with no facility in the ball
    * are absent — the bounded-radius contract is precisely what makes
    * the grid blocking COMPLETE: any facility with d² ≤ r² has both
    * |Δx| ≤ r and |Δy| ≤ r, so it lives in the point's own or an
    * 8-adjacent (coordinate div r) cell, and the oracle can verify
    * completeness by brute force.
    *
    * All arithmetic is exact 64-bit integers: deltas are filtered to
    * |Δ| ≤ cellSize BEFORE squaring (candidates come only from
    * adjacent cells, so Δ² ≤ cellSize² ≤ 2⁶² never wraps), and the
    * argmin is a lexicographic min-struct on (d², facility id) — no
    * floats anywhere, bit-identical on any engine.
    *
    * Scale shape: facilities (the small side) explode ×9 into their
    * neighborhood cells and BROADCAST; the point side is one map-only
    * pass — no point self-join, no shuffle of the big side at all.
    * For a facility side too large to broadcast, the same plan
    * degrades gracefully to a (cx, cy)-keyed hash join.
    */
  def radiusNearestJoin(points: DataFrame, idCol: String,
                        xCol: String, yCol: String,
                        facilities: DataFrame, fidCol: String,
                        fxCol: String, fyCol: String,
                        cellSize: Long): DataFrame = {
    // ≤ 2^30 keeps __d2 = dx² + dy² ≤ 2·2^60 < 2^63: at 2^31 the
    // |dx| = |dy| = cellSize corner reaches exactly 2^63 and wraps
    // negative, sneaking past the d² ≤ r² filter
    require(cellSize >= 1 && cellSize <= (1L << 30), "cellSize out of range")
    val pts = points
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(idCol), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .withColumn("__cx", expr(s"__x div ${cellSize}L"))
      .withColumn("__cy", expr(s"__y div ${cellSize}L"))
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val fac = facilities
      .filter(col(fxCol).isNotNull && col(fyCol).isNotNull)
      .select(col(fidCol).as("__fid"), col(fxCol).cast("long").as("__fx"),
        col(fyCol).cast("long").as("__fy"))
      .withColumn("__o", explode(array(offsets.map { case (dx, dy) =>
        struct((expr(s"__fx div ${cellSize}L") + dx).as("gx"),
          (expr(s"__fy div ${cellSize}L") + dy).as("gy"))
      }: _*)))
      .select(col("__fid"), col("__fx"), col("__fy"),
        col("__o.gx").as("__cx"), col("__o.gy").as("__cy"))
    pts.join(broadcast(fac), Seq("__cx", "__cy"))
      .withColumn("__dx", col("__x") - col("__fx"))
      .withColumn("__dy", col("__y") - col("__fy"))
      .filter(abs(col("__dx")) <= cellSize && abs(col("__dy")) <= cellSize)
      .withColumn("__d2",
        col("__dx") * col("__dx") + col("__dy") * col("__dy"))
      .filter(col("__d2") <= lit(cellSize) * lit(cellSize))
      .groupBy(col(idCol))
      .agg(min(struct(col("__d2"), col("__fid"))).as("__best"))
      .select(col(idCol), col("__best.__fid").as("facility_id"),
        col("__best.__d2").as("dist_sq"))
  }

  def gridHotspots(points: DataFrame, cxCol: String, cyCol: String,
                   gridSize: Int, minPts: Long,
                   ccIters: Int = 5): DataFrame = {
    require(gridSize >= 2 && gridSize <= (1 << 20), "gridSize out of range")
    val dense = points
      .filter(col(cxCol).isNotNull && col(cyCol).isNotNull)
      // enforce the lattice precondition on the CELLS themselves, not
      // just the neighbor offsets: an out-of-range (cx, cy) would
      // alias another cell's id under cx*gridSize + cy ((0, gridSize)
      // == (1, 0)) and silently merge unrelated hotspots
      .filter(col(cxCol) >= 0 && col(cxCol) < gridSize &&
        col(cyCol) >= 0 && col(cyCol) < gridSize)
      .groupBy(col(cxCol).cast("long").as("__cx"),
        col(cyCol).cast("long").as("__cy"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minPts)
      .withColumn("__cell", col("__cx") * gridSize + col("__cy"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // forward half of the 8-neighborhood: each unordered adjacency
      // is generated exactly once (CC normalizes anyway)
      val offsets = Seq((0, 1), (1, -1), (1, 0), (1, 1))
      val nbrs = dense.select(col("__cell").as("id_a"),
        explode(array(offsets.map { case (dx, dy) =>
          when(col("__cx") + dx >= 0 && col("__cx") + dx < gridSize &&
            col("__cy") + dy >= 0 && col("__cy") + dy < gridSize,
            (col("__cx") + dx) * gridSize + (col("__cy") + dy))
        }: _*)).as("id_b"))
        .filter(col("id_b").isNotNull)
      val edges = nbrs.join(dense.select(col("__cell").as("id_b")),
        Seq("id_b"), "left_semi")
      val cc = graft.graph.GraphOps.connectedComponents(edges, ccIters)
      dense
        .join(cc.withColumnRenamed("node", "__cell"), Seq("__cell"), "left")
        .withColumn("component", coalesce(col("component"), col("__cell")))
        .groupBy("component")
        .agg(count(lit(1)).as("n_cells"), sum("__n").as("n_points"),
          max("__n").as("peak_cell_points"))
        .transform(graft.state.Checkpoints.stable)
    } finally dense.unpersist(blocking = false)
  }
}
