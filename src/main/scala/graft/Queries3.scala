package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.indicators.Lcz
import graft.sources.Tables

/**
 * Third query batch: LCZ classification over SYNTHETIC indicator rows with a
 * fully generated DuckDB oracle — every branch of the classifier (rural
 * decision tree, industrial/large-low-rise override, urban min-distance with
 * LCZ1 masking, tie order, Perkins equality and two-smallest uniqueness) is
 * replicated in SQL, with every Scala-computed constant (normalization
 * means/stds, normalized interval bounds, 1-x style constants) emitted as an
 * exact round-trip double literal so both engines evaluate the identical
 * IEEE expression tree.
 */
object Queries3 {

  /** Exact round-trip double literal. */
  private def L(x: Double): String = {
    val s = x.toString
    if (s.contains('.') || s.contains('E') || s.contains("Infinity")) s else s + ".0"
  }

  // -- synthetic all-indics table (same arithmetic on both engines) ----------
  private val synthCols: Seq[(String, String)] = Seq(
    // (column name, SQL expression over doc_id aliased d)
    "sky_view_factor" -> "CAST(d % 90 AS DOUBLE) / 100 + 0.05",
    "aspect_ratio" -> "CAST(d * 3 % 200 AS DOUBLE) / 100",
    "building_fraction_lcz" -> "CAST(d % 101 AS DOUBLE) / 100",
    "impervious_fraction_lcz" -> "CAST(d * 7 % 100 AS DOUBLE) / 100",
    "pervious_fraction_lcz" -> "CAST(d * 11 % 100 AS DOUBLE) / 100",
    "geom_avg_height_roof" -> "CAST(d % 40 AS DOUBLE)",
    "effective_terrain_roughness_length" -> "CAST(d % 2000 AS DOUBLE) / 1000",
    "high_vegetation_fraction_lcz" -> "CAST(d * 13 % 60 AS DOUBLE) / 100",
    "low_vegetation_fraction_lcz" -> "CAST(d * 17 % 60 AS DOUBLE) / 100",
    "water_fraction_lcz" -> "CAST(d * 19 % 50 AS DOUBLE) / 100",
    "impervious_fraction" -> "CAST(d * 23 % 100 AS DOUBLE) / 100",
    "area_fraction_heavy_industry_lcz" -> "CAST(d * 29 % 60 AS DOUBLE) / 100",
    "area_fraction_commercial_lcz" -> "CAST(d * 31 % 50 AS DOUBLE) / 100",
    "area_fraction_residential_lcz" -> "CAST(d * 37 % 80 AS DOUBLE) / 100",
    "avg_nb_lev_area_weighted" -> "CAST(d % 15 AS DOUBLE)",
    "ground_sky_view_factor" -> "CAST(d * 41 % 100 AS DOUBLE) / 100",
    "area_fraction_light_industry_lcz" -> "CAST(d * 43 % 40 AS DOUBLE) / 100")

  private def lczSynthDf(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents").select(
      col("doc_id").as("id_rsu"),
      ((col("doc_id") % 90).cast("double") / 100 + 0.05).as("sky_view_factor"),
      ((col("doc_id") * 3 % 200).cast("double") / 100).as("aspect_ratio"),
      ((col("doc_id") % 101).cast("double") / 100).as("building_fraction_lcz"),
      ((col("doc_id") * 7 % 100).cast("double") / 100).as("impervious_fraction_lcz"),
      ((col("doc_id") * 11 % 100).cast("double") / 100).as("pervious_fraction_lcz"),
      (col("doc_id") % 40).cast("double").as("geom_avg_height_roof"),
      ((col("doc_id") % 2000).cast("double") / 1000).as("effective_terrain_roughness_length"),
      ((col("doc_id") * 13 % 60).cast("double") / 100).as("high_vegetation_fraction_lcz"),
      ((col("doc_id") * 17 % 60).cast("double") / 100).as("low_vegetation_fraction_lcz"),
      ((col("doc_id") * 19 % 50).cast("double") / 100).as("water_fraction_lcz"),
      ((col("doc_id") * 23 % 100).cast("double") / 100).as("impervious_fraction"),
      ((col("doc_id") * 29 % 60).cast("double") / 100).as("area_fraction_heavy_industry_lcz"),
      ((col("doc_id") * 31 % 50).cast("double") / 100).as("area_fraction_commercial_lcz"),
      ((col("doc_id") * 37 % 80).cast("double") / 100).as("area_fraction_residential_lcz"),
      (col("doc_id") % 15).cast("double").as("avg_nb_lev_area_weighted"),
      ((col("doc_id") * 41 % 100).cast("double") / 100).as("ground_sky_view_factor"),
      ((col("doc_id") * 43 % 40).cast("double") / 100).as("area_fraction_light_industry_lcz"))

  // -- generated oracle ------------------------------------------------------
  private lazy val lczSynthOracle: String = {
    // normalization constants — same math as Lcz.normConstants
    val norms = Lcz.Indicators.indices.map { i =>
      val vals = Lcz.Classes.flatMap { case (_, b) => Seq(b(i)._1, b(i)._2).filterNot(_.isNaN) }
      val mean = vals.sum / vals.size
      val varP = vals.map(v => (v - mean) * (v - mean)).sum / vals.size
      (mean, math.sqrt(varP))
    }
    // v-column names aligned with Lcz.Indicators order
    val vCols = Seq("svf", "ar", "bf", "imp", "pv", "hgt", "rough")
    def distSql(bounds: Seq[(Double, Double)]): String = {
      val terms = Lcz.Indicators.indices.map { i =>
        val (c, sd) = norms(i)
        val v = s"((${vCols(i)} - ${L(c)}) / ${L(sd)})"
        val (l0, u0) = bounds(i)
        val pen =
          if (l0.isNaN && u0.isNaN) "0.0"
          else if (l0.isNaN) {
            val u = L((u0 - c) / sd)
            s"(CASE WHEN $v < $u THEN 0.0 ELSE $u - $v END)"
          } else if (u0.isNaN) {
            val l = L((l0 - c) / sd)
            s"(CASE WHEN $v > $l THEN 0.0 ELSE $l - $v END)"
          } else {
            val l = L((l0 - c) / sd); val u = L((u0 - c) / sd)
            s"(CASE WHEN $v < $l THEN $l - $v WHEN $v < $u THEN 0.0 ELSE $u - $v END)"
          }
        s"1.0 * power($pen, 2.0)"
      }
      s"sqrt(${terms.mkString(" + ")})"
    }
    val distCols = Lcz.Classes.map { case (name, b) => s"dd_$name" -> distSql(b) }
    val tieOrder = Seq(2, 3, 4, 5, 6, 7, 9, 1)
    val structs = tieOrder.zipWithIndex.map { case (name, ord) =>
      val d = if (name == 1) s"(CASE WHEN lev < 10 THEN -9999.99 ELSE dd_1 END)" else s"dd_$name"
      s"struct_pack(d := $d, o := $ord, n := $name)"
    }
    val synthSelect = synthCols.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")
    val mid = (0.75 - 0.05) / 2 // Scala arithmetic, exact literal below
    def uncBase(lc: String) =
      s"0.25 * (0.1 - ar) / 0.1 + 0.25 * (0.1 - bf) / 0.1 + 0.5 * ($lc - 0.1) / ${L(1 - 0.1)}"
    s"""WITH raw AS (SELECT doc_id AS id_rsu, doc_id AS d FROM documents),
      |a0 AS (SELECT id_rsu, $synthSelect FROM raw),
      |a AS (SELECT id_rsu,
      |    sky_view_factor AS svf, aspect_ratio AS ar, building_fraction_lcz AS bf,
      |    impervious_fraction_lcz AS imp, pervious_fraction_lcz AS pv,
      |    geom_avg_height_roof AS hgt, effective_terrain_roughness_length AS rough,
      |    high_vegetation_fraction_lcz AS hv, low_vegetation_fraction_lcz AS lv,
      |    water_fraction_lcz AS wa, area_fraction_heavy_industry_lcz AS heavy,
      |    area_fraction_commercial_lcz + area_fraction_light_industry_lcz AS lowrise,
      |    area_fraction_residential_lcz AS resi, avg_nb_lev_area_weighted AS lev,
      |    ground_sky_view_factor AS gsvf
      |  FROM a0),
      |b AS (SELECT *,
      |    (bf < 0.1 AND ar < 0.1) AS is_rural,
      |    (CASE WHEN imp + wa + bf = 0 AND hv = 0 THEN NULL
      |      WHEN imp + wa + bf = 1 THEN (CASE WHEN hv = 0 THEN 0.0 ELSE 1.0 END)
      |      WHEN 1.0 - imp + wa + bf <= hv THEN 1.0
      |      ELSE hv / (1.0 - imp - wa - bf) END) AS hav,
      |    ((heavy > lowrise AND heavy > 0.33)
      |      OR (lowrise > resi AND lowrise > 0.33 AND lev < 3.0
      |          AND lv + hv < 0.2 AND gsvf > 0.7)) AS is_indus,
      |    ${distCols.map { case (n, e) => s"$e AS $n" }.mkString(",\n    ")}
      |  FROM a),
      |c AS (SELECT *,
      |    (CASE WHEN imp > lv + hv AND imp > wa AND imp > 0.1 THEN 105
      |      WHEN lv + hv <= wa AND wa > 0.31 THEN 107
      |      WHEN hav IS NULL OR hav < 0.05 THEN 104
      |      WHEN hav < 0.75 THEN 102 ELSE 101 END) AS rural_lcz,
      |    list_sort(list_filter([${structs.mkString(", ")}], s -> s.d != -9999.99)) AS sd
      |  FROM b),
      |e AS (SELECT *,
      |    list_sum(list_transform(sd, s -> s.d)) AS total,
      |    sd[1].d AS d0, sd[2].d AS d1
      |  FROM c)
      |SELECT id_rsu,
      |  CAST(CASE WHEN is_rural THEN rural_lcz
      |    WHEN is_indus THEN (CASE WHEN heavy > lowrise THEN 10 ELSE 8 END)
      |    ELSE sd[1].n END AS INTEGER) AS lcz_primary,
      |  CAST(CASE WHEN is_rural OR is_indus THEN NULL ELSE sd[2].n END AS INTEGER)
      |    AS lcz_secondary,
      |  round(CASE WHEN is_rural THEN (CASE WHEN imp + pv < 0.5 THEN -1.0 ELSE NULL END)
      |    WHEN is_indus THEN NULL ELSE d0 END, 6) AS min_distance,
      |  round(CASE WHEN is_rural THEN
      |      (CASE rural_lcz
      |        WHEN 101 THEN ${uncBase("hv")}
      |        WHEN 104 THEN ${uncBase("(lv + hv - hv)")}
      |        WHEN 105 THEN ${uncBase("imp")}
      |        WHEN 107 THEN ${uncBase("wa")}
      |        WHEN 102 THEN 0.25 * (0.1 - ar) / 0.1 + 0.25 * (0.1 - bf) / 0.1
      |          + 0.25 * (lv + hv - 0.1) / ${L(1 - 0.1)}
      |          + 0.25 * (${L(mid)} - abs(hav - ${L(mid)})) / ${L(mid)}
      |        END)
      |    WHEN is_indus THEN (CASE WHEN heavy > lowrise
      |      THEN (heavy - 0.33) / ${L(1 - 0.33)} ELSE (lowrise - 0.33) / ${L(1 - 0.33)} END)
      |    ELSE (CASE WHEN d0 + d1 > 0 THEN abs(d0 - d1) / (d0 + d1) ELSE NULL END)
      |    END, 6) AS lcz_uniqueness_value,
      |  round(CASE WHEN is_rural OR is_indus THEN NULL
      |    WHEN total = 0 THEN NULL
      |    ELSE list_sum(list_transform(sd, s -> least(s.d, total / 8))) / total END, 6)
      |    AS lcz_equality_value
      |FROM e ORDER BY id_rsu""".stripMargin
  }

  private val RoadOsmTypes =
    Array("motorway", "trunk", "primary", "secondary", "tertiary",
      "residential", "service", "track", "footway", "cycleway")
  private val RoadSurfaces = Array("asphalt", "concrete", "paved", "gravel", "sett")

  private def roadsSynth(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents").select(
      col("doc_id").as("id_road"),
      element_at(lit(RoadOsmTypes), (col("doc_id") % 10 + 1).cast("int")).as("type"),
      when(col("doc_id") % 3 === 0, -1)
        .otherwise((col("doc_id") % 90 + 20).cast("int")).cast("int").as("maxspeed"),
      (col("doc_id") % 5).cast("int").as("direction"),
      when(col("doc_id") % 7 === 6, lit(null).cast("string"))
        .otherwise(element_at(lit(RoadSurfaces), (col("doc_id") % 5 + 1).cast("int")))
        .as("surface"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- road traffic enrichment (RoadIndicators.groovy:56-262): OSM type ->
    //    traffic class, CNOSSOS flows per period/direction, speeds, pavement --
    "road_traffic" -> ((s, dir) => {
      graft.indicators.RoadIndicators.buildRoadTraffic(roadsSynth(s, dir))
        .orderBy("id_source")
    }),

    // -- ground layer (priority overlay) + acoustic absorption
    //    (RsuIndicators.groovy groundLayer + NoiseIndicators.groovy:61-108) --
    "noise_ground_absorption" -> ((s, dir) => {
      import graft.geom.{GeoFunctions => G}
      val zones = graft.operators.Tiling.makeGrid(s, 0, 0, 150, 150, 50, 50)
        .select(col("id_grid").as("id_rsu"), col("the_geom"))
      def layer(cellW: Int, nCells: Int, limit: Int, wMod: Int, hMod: Int, typ: String) =
        Tables.read(s, dir, "documents").where(col("doc_id") < limit).select(
          (col("doc_id") % nCells * cellW).cast("double").as("lx"),
          (floor(col("doc_id") / nCells) % nCells * cellW).cast("double").as("ly"),
          (col("doc_id") % wMod + 2).cast("double").as("lw"),
          (col("doc_id") * 3 % hMod + 2).cast("double").as("lh"),
          lit(typ).as("type"))
          .select(G.stMakeBox(col("lx"), col("ly"), col("lx") + col("lw"), col("ly") + col("lh"))
            .as("the_geom"), col("type"))
      val water = layer(11, 13, 169, 7, 7, "water")
      val hv = layer(7, 20, 400, 5, 5, "tree")
      val lv = layer(9, 15, 225, 6, 6, "grass")
      val ground = graft.indicators.RsuIndicators.groundLayer(zones,
        Seq("water" -> water, "high_vegetation" -> hv, "low_vegetation" -> lv),
        graft.indicators.NoiseIndicators.LayerPriorities,
        graft.index.CellGrid.fixture, 10)
      graft.indicators.NoiseIndicators.groundAcousticAbsorption(ground)
        .groupBy("id_rsu")
        .agg(
          round(sum(when(col("layer") === "water", col("area")).otherwise(0.0)), 9).as("area_water"),
          round(sum(when(col("layer") === "high_vegetation", col("area")).otherwise(0.0)), 9).as("area_hv"),
          round(sum(when(col("layer") === "low_vegetation", col("area")).otherwise(0.0)), 9).as("area_lv"),
          round(sum(col("g") * col("area")), 9).as("g_area"))
        .orderBy("id_rsu")
    }),

    // -- compact-cover (mixed-resolution) point-in-polygon: must agree with
    //    the fixed-res join, so it shares geo_pip_join's oracle ------------
    "geo_pip_compact" -> ((s, dir) => {
      val rsu = graft.fixtures.GeoFixture.rsuDf(s).select("id_rsu", "the_geom")
      graft.operators.SpatialJoin.pointInPolygonCompact(
          Queries.docPoints(s, dir), "x", "y", rsu, "the_geom",
          graft.index.CellGrid.fixture, 10)
        .select(col("doc_id"), col("id_rsu").cast("long").as("id_rsu"))
        .orderBy("doc_id")
    }),

    // -- the full LCZ classifier over synthetic indicator rows: every branch
    //    (rural tree / industrial override / urban min-distance incl. LCZ1
    //    masking, tie order, equality + uniqueness) oracle-verified ---------
    "lcz_classify_synth" -> ((s, dir) => {
      val all = lczSynthDf(s, dir)
      val lczIndics = all.select(col("id_rsu"), col("sky_view_factor"), col("aspect_ratio"),
        col("building_fraction_lcz").as("building_surface_fraction"),
        col("impervious_fraction_lcz").as("impervious_surface_fraction"),
        col("pervious_fraction_lcz").as("pervious_surface_fraction"),
        col("geom_avg_height_roof").as("height_of_roughness_elements"),
        col("effective_terrain_roughness_length").as("terrain_roughness_length"))
      Lcz.identifyLczType(lczIndics, all)
        .select(col("id_rsu"), col("lcz_primary"), col("lcz_secondary"),
          round(col("min_distance"), 6).as("min_distance"),
          round(col("lcz_uniqueness_value"), 6).as("lcz_uniqueness_value"),
          round(col("lcz_equality_value"), 6).as("lcz_equality_value"))
        .orderBy("id_rsu")
    }))

  private lazy val roadTrafficOracle: String = {
    import graft.indicators.RoadIndicators._
    val rtVals = RoadTypes.flatMap { case (cls, vals) =>
      vals.map(v => s"('$v', '$cls')") }.mkString(", ")
    val msVals = RoadTypes.map { case (cls, _) => s"('$cls', ${MaxSpeed(cls)})" }.mkString(", ")
    def flVals(halved: Boolean) = RoadTypes.map { case (cls, _) =>
      val (a, b, c, d, e, f) = perHour(cls, halved)
      s"('$cls', $a, $b, $c, $d, $e, $f)"
    }.mkString(", ")
    val pvVals = Pavements.toSeq.sorted.map { case (k, v) => s"('$k', '$v')" }.mkString(", ")
    val osmList = RoadOsmTypes.map(t => s"'$t'").mkString(", ")
    val surfList = RoadSurfaces.map(t => s"'$t'").mkString(", ")
    s"""WITH roads AS (SELECT doc_id AS id_road,
      |    ([$osmList])[CAST(doc_id % 10 + 1 AS INT)] AS type,
      |    CAST(CASE WHEN doc_id % 3 = 0 THEN -1 ELSE doc_id % 90 + 20 END AS INTEGER) AS maxspeed,
      |    CAST(doc_id % 5 AS INTEGER) AS direction,
      |    CASE WHEN doc_id % 7 = 6 THEN NULL
      |      ELSE ([$surfList])[CAST(doc_id % 5 + 1 AS INT)] END AS surface
      |  FROM documents),
      |rt(osm, cls) AS (VALUES $rtVals),
      |ms(cls, speed) AS (VALUES $msVals),
      |fh(cls, dlv, dhv, nlv, nhv, elv, ehv) AS (VALUES ${flVals(halved = true)}),
      |ff(cls, dlv, dhv, nlv, nhv, elv, ehv) AS (VALUES ${flVals(halved = false)}),
      |pv(surface, p) AS (VALUES $pvVals)
      |SELECT CAST(r.id_road AS VARCHAR) AS id_source, rt.cls AS road_type,
      |  r.type AS source_road_type, r.surface, r.direction,
      |  CAST(NULL AS DOUBLE) AS slope,
      |  coalesce(pv.p, 'NL05') AS pavement,
      |  CAST(CASE WHEN r.direction IN (1,2) THEN fh.dlv WHEN r.direction = 3 THEN ff.dlv ELSE 0 END AS BIGINT) AS day_lv_hour,
      |  CAST(CASE WHEN r.direction IN (1,2) THEN fh.dhv WHEN r.direction = 3 THEN ff.dhv ELSE 0 END AS BIGINT) AS day_hv_hour,
      |  CAST(CASE WHEN r.maxspeed = -1 THEN ms.speed ELSE r.maxspeed END AS INTEGER) AS day_lv_speed,
      |  CAST(CASE WHEN r.maxspeed = -1 THEN ms.speed ELSE r.maxspeed END AS INTEGER) AS day_hv_speed,
      |  CAST(CASE WHEN r.direction IN (1,2) THEN fh.nlv WHEN r.direction = 3 THEN ff.nlv ELSE 0 END AS BIGINT) AS night_lv_hour,
      |  CAST(CASE WHEN r.direction IN (1,2) THEN fh.nhv WHEN r.direction = 3 THEN ff.nhv ELSE 0 END AS BIGINT) AS night_hv_hour,
      |  CAST(CASE WHEN r.maxspeed = -1 THEN ms.speed ELSE r.maxspeed END AS INTEGER) AS night_lv_speed,
      |  CAST(CASE WHEN r.maxspeed = -1 THEN ms.speed ELSE r.maxspeed END AS INTEGER) AS night_hv_speed,
      |  CAST(CASE WHEN r.direction IN (1,2) THEN fh.elv WHEN r.direction = 3 THEN ff.elv ELSE 0 END AS BIGINT) AS ev_lv_hour,
      |  CAST(CASE WHEN r.direction IN (1,2) THEN fh.ehv WHEN r.direction = 3 THEN ff.ehv ELSE 0 END AS BIGINT) AS ev_hv_hour,
      |  CAST(CASE WHEN r.maxspeed = -1 THEN ms.speed ELSE r.maxspeed END AS INTEGER) AS ev_lv_speed,
      |  CAST(CASE WHEN r.maxspeed = -1 THEN ms.speed ELSE r.maxspeed END AS INTEGER) AS ev_hv_speed
      |FROM roads r JOIN rt ON r.type = rt.osm
      |JOIN ms ON rt.cls = ms.cls
      |JOIN fh ON rt.cls = fh.cls JOIN ff ON rt.cls = ff.cls
      |LEFT JOIN pv ON r.surface = pv.surface
      |ORDER BY id_source""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "road_traffic" -> roadTrafficOracle,
    // dominant-layer areas by priority (water > high_veg > low_veg) via
    // inclusion-exclusion over the non-self-overlapping rect layers
    "noise_ground_absorption" ->
      """WITH z9 AS (SELECT CAST(range AS BIGINT) AS idz,
        |    CAST(range % 3 AS DOUBLE) * 50 AS zx, CAST(range // 3 AS DOUBLE) * 50 AS zy
        |  FROM range(0, 9)),
        |wat AS (SELECT CAST(doc_id % 13 * 11 AS DOUBLE) AS x, CAST((doc_id // 13) % 13 * 11 AS DOUBLE) AS y,
        |    CAST(doc_id % 7 + 2 AS DOUBLE) AS w, CAST(doc_id * 3 % 7 + 2 AS DOUBLE) AS h
        |  FROM documents WHERE doc_id < 169),
        |hv AS (SELECT CAST(doc_id % 20 * 7 AS DOUBLE) AS x, CAST((doc_id // 20) % 20 * 7 AS DOUBLE) AS y,
        |    CAST(doc_id % 5 + 2 AS DOUBLE) AS w, CAST(doc_id * 3 % 5 + 2 AS DOUBLE) AS h
        |  FROM documents WHERE doc_id < 400),
        |lv AS (SELECT CAST(doc_id % 15 * 9 AS DOUBLE) AS x, CAST((doc_id // 15) % 15 * 9 AS DOUBLE) AS y,
        |    CAST(doc_id % 6 + 2 AS DOUBLE) AS w, CAST(doc_id * 3 % 6 + 2 AS DOUBLE) AS h
        |  FROM documents WHERE doc_id < 225),
        |aw AS (SELECT z.idz, sum(greatest(0.0, least(a.x+a.w, z.zx+50) - greatest(a.x, z.zx))
        |    * greatest(0.0, least(a.y+a.h, z.zy+50) - greatest(a.y, z.zy))) AS s
        |  FROM z9 z CROSS JOIN wat a GROUP BY 1),
        |ah AS (SELECT z.idz, sum(greatest(0.0, least(a.x+a.w, z.zx+50) - greatest(a.x, z.zx))
        |    * greatest(0.0, least(a.y+a.h, z.zy+50) - greatest(a.y, z.zy))) AS s
        |  FROM z9 z CROSS JOIN hv a GROUP BY 1),
        |al AS (SELECT z.idz, sum(greatest(0.0, least(a.x+a.w, z.zx+50) - greatest(a.x, z.zx))
        |    * greatest(0.0, least(a.y+a.h, z.zy+50) - greatest(a.y, z.zy))) AS s
        |  FROM z9 z CROSS JOIN lv a GROUP BY 1),
        |ahw AS (SELECT z.idz, sum(greatest(0.0, least(a.x+a.w, b.x+b.w, z.zx+50) - greatest(a.x, b.x, z.zx))
        |    * greatest(0.0, least(a.y+a.h, b.y+b.h, z.zy+50) - greatest(a.y, b.y, z.zy))) AS s
        |  FROM z9 z CROSS JOIN hv a CROSS JOIN wat b GROUP BY 1),
        |alw AS (SELECT z.idz, sum(greatest(0.0, least(a.x+a.w, b.x+b.w, z.zx+50) - greatest(a.x, b.x, z.zx))
        |    * greatest(0.0, least(a.y+a.h, b.y+b.h, z.zy+50) - greatest(a.y, b.y, z.zy))) AS s
        |  FROM z9 z CROSS JOIN lv a CROSS JOIN wat b GROUP BY 1),
        |alh AS (SELECT z.idz, sum(greatest(0.0, least(a.x+a.w, b.x+b.w, z.zx+50) - greatest(a.x, b.x, z.zx))
        |    * greatest(0.0, least(a.y+a.h, b.y+b.h, z.zy+50) - greatest(a.y, b.y, z.zy))) AS s
        |  FROM z9 z CROSS JOIN lv a CROSS JOIN hv b GROUP BY 1),
        |alhw AS (SELECT z.idz,
        |    sum(greatest(0.0, least(a.x+a.w, b.x+b.w, c.x+c.w, z.zx+50) - greatest(a.x, b.x, c.x, z.zx))
        |      * greatest(0.0, least(a.y+a.h, b.y+b.h, c.y+c.h, z.zy+50) - greatest(a.y, b.y, c.y, z.zy))) AS s
        |  FROM z9 z CROSS JOIN lv a CROSS JOIN hv b CROSS JOIN wat c GROUP BY 1)
        |SELECT z.idz AS id_rsu,
        |  round(coalesce(aw.s, 0.0), 9) AS area_water,
        |  round(coalesce(ah.s, 0.0) - coalesce(ahw.s, 0.0), 9) AS area_hv,
        |  round(coalesce(al.s, 0.0) - coalesce(alw.s, 0.0) - coalesce(alh.s, 0.0)
        |    + coalesce(alhw.s, 0.0), 9) AS area_lv,
        |  round(0.0 * coalesce(aw.s, 0.0)
        |    + 1.0 * (coalesce(ah.s, 0.0) - coalesce(ahw.s, 0.0))
        |    + 0.7 * (coalesce(al.s, 0.0) - coalesce(alw.s, 0.0) - coalesce(alh.s, 0.0)
        |      + coalesce(alhw.s, 0.0)), 9) AS g_area
        |FROM z9 z LEFT JOIN aw ON z.idz = aw.idz LEFT JOIN ah ON z.idz = ah.idz
        |LEFT JOIN al ON z.idz = al.idz LEFT JOIN ahw ON z.idz = ahw.idz
        |LEFT JOIN alw ON z.idz = alw.idz LEFT JOIN alh ON z.idz = alh.idz
        |LEFT JOIN alhw ON z.idz = alhw.idz ORDER BY id_rsu""".stripMargin,
    "geo_pip_compact" ->
      s"""WITH ${Queries.docPointsSql}, ${Queries.rsuRectsSql}
        |SELECT doc_id, CAST(id_rsu AS BIGINT) AS id_rsu FROM pts JOIN rsu
        |ON x > xmin AND x < xmax AND y > ymin AND y < ymax
        |ORDER BY doc_id""".stripMargin,
    "lcz_classify_synth" -> lczSynthOracle)
}
