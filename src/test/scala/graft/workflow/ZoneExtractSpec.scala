package graft.workflow

import graft.SparkTestBase

/** The bbox branch of extractOSMZone (WorkflowOSM.groovy:719-775): SRID
  * pick, envelope expansion, WKB quads and their one-row zone tables, and
  * the km² size guard — the config-driven wiring a user drives the
  * workflow with offline. */
class ZoneExtractSpec extends SparkTestBase {

  test("config bbox -> extractOSMZone -> zone tables + SRID + size guard") {
    val (bboxes, area) = ZoneExtract.parseInput(
      """{"input": {"locations": [[43.2, 2.1, 43.26, 2.18]], "area": 2000}}""")
    val z = ZoneExtract.extractOSMZone(spark, bboxes.head,
      distance = 200.0, bboxSizeKm2 = area)
    assert(z.utmSrid == 32631) // 2.1..2.18 E, northern hemisphere
    assert(z.utmZoneTable.count() == 1 && z.utmExtendedBboxTable.count() == 1)
    val row = z.utmZoneTable.head
    assert(row.getAs[String]("id_zone") == "43.2_2.1_43.26_2.18")
    assert(row.getAs[Int]("srid") == 32631)
    // the lazily built tables carry exactly the zone's WKB quads
    assert(row.getAs[Array[Byte]]("the_geom").sameElements(z.utmZoneWkb))
    assert(z.utmExtendedBboxTable.head.getAs[Array[Byte]]("the_geom")
      .sameElements(z.utmExtendedBboxWkb))
    // the extended envelope strictly contains the zone bbox
    val e = z.osmEnvelopeExtended
    assert(e.minLon < 2.1 && e.maxLon > 2.18 && e.minLat < 43.2 && e.maxLat > 43.26)
    // southern hemisphere picks the 327xx family
    assert(ZoneExtract.extractOSMZone(spark, (-34.1, 2.0, -34.0, 2.1), 100.0).utmSrid == 32731)
    // point + distance locations resolve to the envelope around the point
    val (pb, _) = ZoneExtract.parseInput(
      """{"input": {"locations": [[43.2, 2.1, 500]]}}""")
    val (s0, w0, n0, e0) = pb.head
    assert(s0 < 43.2 && n0 > 43.2 && w0 < 2.1 && e0 > 2.1)
    assert(math.abs((n0 - s0) * ZoneExtract.MetersPerDegree - 1000.0) < 1e-6)
    intercept[IllegalArgumentException] {
      ZoneExtract.parseInput("""{"input": {"locations": [[43.2, 2.1, 99]]}}""")
    }
    // the size guard throws for a bbox over the km2 limit
    intercept[IllegalArgumentException] {
      ZoneExtract.extractOSMZone(spark, (43.0, 2.0, 44.0, 3.5),
        distance = 200.0, bboxSizeKm2 = 1000.0)
    }
  }
}
