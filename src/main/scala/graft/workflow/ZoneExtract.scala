package graft.workflow

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.geom.{Geo, Projection}

/**
 * Offline zone resolution — the bbox branch of the reference's
 * `extractOSMZone` (osm/WorkflowOSM.groovy:719-775): turn a bbox request
 * into the zone geometry, the UTM SRID pick, and the distance-extended
 * envelope that everything downstream (layer clipping, grid domain) keys
 * on. The Nominatim place-name branch stays N/A offline (no egress); the
 * bbox branch is pure arithmetic and is replicated exactly:
 *
 *  1. bbox [south, west, north, east] → lat/lon envelope polygon
 *     (osmtools Utilities.geometryFromValues → buildGeometry);
 *  2. envelope expanded by `distance` meters
 *     (H2GIS `GeographyUtilities.expandEnvelopeByMeters`; here the standard
 *     spherical-arc approximation on the WGS84 equatorial radius —
 *     Δlat = d / M, Δlon = d / (M · cos(centreLat)), M = 6378137·π/180 —
 *     a deliberate offline stand-in, within centimeters of the geodesic
 *     expansion at workflow distances);
 *  3. UTM SRID from the extended envelope's centre
 *     (`GeographyUtilities.getSRID`: 32600 + zone north of the equator,
 *     32700 + zone south, zone = ⌊(lon+180)/6⌋+1 capped at 60);
 *  4. zone + extended-bbox polygons reprojected corner-by-corner with the
 *     engine's Karney series ([[graft.geom.Projection]], the ST_Transform
 *     stand-in);
 *  5. size guard: UTM envelope area / 10⁶ must stay under `bboxSizeKm2`
 *     (reference default 1000 km², WorkflowOSM.groovy:67).
 *
 * All of this is driver-side scalar math over 4 corners — zone resolution
 * is O(#zones), never data-scale. The two UTM quads are returned as WKB;
 * their one-row tables, which feed [[WorkflowRunner.run]] like the
 * reference's utm_zone_table / utm_extended_bbox_table, are built on first
 * access (planning a one-row DataFrame costs milliseconds of Spark planning,
 * wasted on callers that only read the quads).
 */
object ZoneExtract {

  /** Meters per degree of arc on the WGS84 equatorial circle. */
  val MetersPerDegree: Double = 6378137.0 * math.Pi / 180.0

  /** (minLon, minLat, maxLon, maxLat) lat/lon envelopes. */
  final case class Env(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double) {
    def centreLon: Double = (minLon + maxLon) / 2
    def centreLat: Double = (minLat + maxLat) / 2
  }

  /** A resolved zone: the UTM zone / extended-bbox quads (WKB), the
    * lat/lon extended envelope, the lat/lon zone polygon and the SRID. */
  final case class Zone(utmZoneWkb: Array[Byte], utmExtendedBboxWkb: Array[Byte],
                        idZone: String, osmEnvelopeExtended: Env,
                        osmGeometry: Array[Byte], utmSrid: Int)(spark: SparkSession) {
    /** One-row (the_geom WKB, id_zone, srid) tables of the two quads. */
    lazy val utmZoneTable: DataFrame = table(utmZoneWkb)
    lazy val utmExtendedBboxTable: DataFrame = table(utmExtendedBboxWkb)

    private def table(wkb: Array[Byte]): DataFrame = {
      import spark.implicits._
      Seq((wkb, idZone, utmSrid)).toDF("the_geom", "id_zone", "srid")
    }
  }

  /** Spherical-arc envelope expansion (step 2 above); the centre latitude
    * of the UNEXPANDED envelope scales the longitude delta. */
  def expandEnvelopeByMeters(e: Env, distance: Double): Env = {
    val dLat = distance / MetersPerDegree
    val dLon = distance / (MetersPerDegree * math.cos(math.toRadians(e.centreLat)))
    Env(e.minLon - dLon, e.minLat - dLat, e.maxLon + dLon, e.maxLat + dLat)
  }

  /** UTM SRID at a lat/lon point (step 3 above). */
  def utmSrid(lon: Double, lat: Double): Int =
    (if (lat >= 0) 32600 else 32700) + Projection.utmZone(lon)

  /** Corner-transformed envelope polygon as WKB (zone/extended-bbox tables
    * store the reprojected QUADRILATERAL, like the reference's
    * ST_Transform of the envelope polygon — not the UTM-space envelope). */
  private def utmQuad(e: Env, srid: Int): Array[Byte] = {
    val zone = srid % 100
    val north = srid < 32700
    val corners = Seq((e.minLon, e.minLat), (e.maxLon, e.minLat),
      (e.maxLon, e.maxLat), (e.minLon, e.maxLat), (e.minLon, e.minLat))
      .map { case (lon, lat) => Projection.utmForward(lon, lat, zone, north) }
    Geo.toWkb(Geo.factory.createPolygon(
      corners.map(c => new org.locationtech.jts.geom.Coordinate(c._1, c._2)).toArray))
  }

  /**
   * The bbox branch of extractOSMZone. `bbox` is the OSM filter order
   * (south, west, north, east); `idZone` defaults to the reference's
   * `formatLocation` rendering (values joined with '_').
   *
   * @return the UTM zone / extended-bbox quads (and their one-row
   *         tables) + the lat/lon extended envelope
   */
  def extractOSMZone(spark: SparkSession, bbox: (Double, Double, Double, Double),
                     distance: Double, bboxSizeKm2: Double = 1000.0,
                     idZone: Option[String] = None): Zone = {
    val (south, west, north, east) = bbox
    require(south <= north && west <= east && south >= -90 && north <= 90 &&
      west >= -180 && east <= 180, s"invalid bbox $bbox")
    val zoneEnv = Env(west, south, east, north)
    val extended = expandEnvelopeByMeters(zoneEnv, distance)
    val srid = utmSrid(extended.centreLon, extended.centreLat)
    val zoneUtm = utmQuad(zoneEnv, srid)
    val sizeKm2 = Geo.fromWkb(zoneUtm).getEnvelopeInternal.getArea / 1.0e6
    if (sizeKm2 >= bboxSizeKm2)
      throw new IllegalArgumentException(
        s"The size of the OSM BBOX ($sizeKm2) is greater than the limit : $bboxSizeKm2 in km2")
    val id = idZone.getOrElse(Seq(south, west, north, east).mkString("_"))
    Zone(zoneUtm, utmQuad(extended, srid), id, extended, Geo.toWkb(
      Geo.box(zoneEnv.minLon, zoneEnv.minLat, zoneEnv.maxLon, zoneEnv.maxLat)), srid)(spark)
  }

  /** The `input.locations` / `input.area` block of the workflow config
    * (WorkflowOSM.groovy:64-68): each 4-number location is a bbox, each
    * 3-number one a point + distance (osmtools `geometryFromValues` /
    * `createBBox`: [lat, lon, d] → the envelope d meters around the point,
    * d > 100 required) — both resolvable offline; string locations
    * (Nominatim names) are rejected. Returns (bboxes, bbox_size km²). */
  def parseInput(json: String): (Seq[(Double, Double, Double, Double)], Double) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val input = root.path("input")
    require(!input.isMissingNode, "config has no input block")
    val area = if (input.path("area").isNumber) input.get("area").asDouble else 1000.0
    import scala.jdk.CollectionConverters._
    val locs = input.path("locations").elements().asScala.map { loc =>
      require(loc.isArray && (loc.size == 4 || loc.size == 3),
        "only bbox ([south, west, north, east]) or point+distance " +
          "([lat, lon, meters]) locations are resolvable offline")
      val v = loc.elements().asScala.map(_.asDouble).toSeq
      if (loc.size == 4) (v(0), v(1), v(2), v(3))
      else {
        require(v(2) >= 100,
          "the distance to create a bbox from a point must be greater than 100 meters")
        val e = expandEnvelopeByMeters(Env(v(1), v(0), v(1), v(0)), v(2))
        (e.minLat, e.minLon, e.maxLat, e.maxLon)
      }
    }.toSeq
    (locs, area)
  }
}
