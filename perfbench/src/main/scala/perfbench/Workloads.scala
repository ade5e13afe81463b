package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.io.WKTReader
import graft.fixtures.GeoFixture
import graft.index.CellGrid
import graft.lake.Pages
import graft.operators.{SpatialJoin, Tiling}

/** What one operation returns: input rows it processed, and a check of its
  * output that the harness runs after the operation's timer has stopped. */
final case class Outcome(rows: Long, check: () => Option[String])
final case class Op(name: String, run: () => Outcome)

final class Ctx(val spark: SparkSession, val seed: Long, val work: File, val tracer: Tracer)

trait Workload {
  def name: String
  /** Whether the operations read input files, which `writeInputs` writes
    * once per run, outside the timed set-up. */
  def hasInputFiles: Boolean = false
  def writeInputs(ctx: Ctx): Unit = ()
  /** Returns one pass of operations over this run's inputs. */
  def prepare(ctx: Ctx): IndexedSeq[Op]
  /** Workload-specific layer figures of a traced run, from its traced
    * passes `w` or measured after them. */
  def layers(ctx: Ctx, w: WindowResult): Seq[(String, Any)]
  /** Extra result fields the runner needs for its checks. */
  def extraOutput(ctx: Ctx): Seq[(String, Any)] = Nil
}

object Workloads {
  val All: Seq[Workload] = Seq(Flagship, QuerySuite)
  def byName(n: String): Option[Workload] = All.find(_.name == n)

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The north-rule flagship pipeline (as in graft.Bench): synthesized pages,
  * geocode, point-side cell id, point-in-polygon against the fixture RSUs
  * with a broadcast cover, then per-tile aggregation. */
object Flagship extends Workload {
  val name = "flagship_pip_tile"
  val Rows = 8000000L
  val Parts = 8
  private val Res = 10

  private def pages(s: SparkSession, offset: Long, n: Long): DataFrame =
    Pages.geocode(Pages.synth(s, n, Parts).withColumn("i", col("i") + offset))

  private def rsu(s: SparkSession): DataFrame = GeoFixture.rsuDf(s).select(col("id_rsu"), col("the_geom"))

  def pipeline(s: SparkSession, offset: Long, n: Long): DataFrame =
    SpatialJoin.pointInPolygon(pages(s, offset, n), "x", "y", rsu(s), "the_geom", CellGrid.fixture, Res)
      .groupBy(col("id_rsu"),
        Tiling.tileCol(col("x"), 0.0, 10.0).as("id_col"),
        Tiling.tileRow(col("y"), 0.0, 10.0).as("id_row"))
      .agg(count(lit(1)).as("cnt"))

  /** The seed picks the page-index window; geocode is a pure function of the index. */
  def offset(seed: Long): Long = math.floorMod(seed * 7919L, 1000L) * Rows

  /** Brute-force containment count over the same points, with JTS directly. */
  private def bruteForce(s: SparkSession, offset: Long): Long = {
    val polys = GeoFixture.rsus.map(r => new WKTReader().read(r._2))
    val contained = udf { (x: Double, y: Double) =>
      val p = new GeometryFactory().createPoint(new Coordinate(x, y))
      polys.count(g => g.getEnvelopeInternal.contains(x, y) && g.contains(p)).toLong
    }
    pages(s, offset, Rows).agg(sum(contained(col("x"), col("y")))).head().getLong(0)
  }

  def prepare(ctx: Ctx): IndexedSeq[Op] = {
    val off = offset(ctx.seed)
    lazy val expected = bruteForce(ctx.spark, off)
    IndexedSeq(Op("flagship", () => {
      val df = ctx.tracer.span("construct")(pipeline(ctx.spark, off, Rows))
      val got = ctx.tracer.span("action")(df.agg(sum("cnt")).head().getLong(0))
      Outcome(Rows, () => if (got == expected) None else Some(s"assigned $got, brute force $expected"))
    }))
  }

  override def layers(ctx: Ctx, w: WindowResult): Seq[(String, Any)] = {
    val s = ctx.spark
    val off = offset(ctx.seed)
    val grid = CellGrid.fixture
    def med(body: => Any): Double = Stats.median((1 to 3).map(_ => Workloads.secs(body)._2))
    val geocoded = med(pages(s, off, Rows).agg(sum(col("x") + col("y"))).head())
    val withCell = med(pages(s, off, Rows)
      .select(SpatialJoin.cellColumn(grid, Res, col("x"), col("y")).as("c")).agg(max(col("c"))).head())
    val joined = med(SpatialJoin.pointInPolygon(pages(s, off, Rows), "x", "y", rsu(s), "the_geom", grid, Res)
      .agg(count(lit(1))).head())
    val full = med(pipeline(s, off, Rows).agg(sum("cnt")).head())
    Main.stop(s)
    val oneCore = oneCoreRowsPerSec(ctx.seed)
    Seq(
      "lake.synth_geocode_s" -> geocoded,
      "index.cell_id_s" -> (withCell - geocoded),
      "operators.pip_join_s" -> (joined - withCell),
      "operators.tile_agg_s" -> (full - joined),
      "rows_per_s_4core" -> Rows / full,
      "rows_per_s_1core" -> oneCore,
      "scaling_eff_1_4" -> Rows / full / (4 * oneCore))
  }

  /** Input rows per second of the pipeline at one core on the same window,
    * in a local[1] session of its own (the local[4] one must be stopped). */
  def oneCoreRowsPerSec(seed: Long): Double = {
    val s = Main.session(1)
    try {
      val off = offset(seed)
      val t = (1 to 2).map(_ => Workloads.secs(pipeline(s, off, Rows).agg(sum("cnt")).head())._2)
      Rows / Stats.median(t)
    } finally Main.stop(s)
  }
}

/** One `graft.SparkEntry.queries` entry per operation: construct, then
  * `count()`, over synthesized sf0.1-shaped tables. Row counts are checked
  * against DuckDB running the query's oracle SQL on the same files, after
  * the run. */
object QuerySuite extends Workload {
  val name = "query_suite_sf01"
  private val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  def dataDir(ctx: Ctx): String = new File(ctx.work, "sf01").getAbsolutePath

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Suite.Sample)

  override def hasInputFiles: Boolean = true
  override def writeInputs(ctx: Ctx): Unit = SuiteData.write(ctx.spark, ctx.seed, dataDir(ctx))

  def prepare(ctx: Ctx): IndexedSeq[Op] = {
    val dir = dataDir(ctx)
    counts.clear()
    order(ctx.seed).toIndexedSeq.map { q =>
      val fn = graft.SparkEntry.queries(q)
      Op(q, () => {
        val df = ctx.tracer.span("construct")(fn(ctx.spark, dir))
        val n = ctx.tracer.span("action")(df.count())
        Outcome(n, () => counts.get(q) match {
          case Some(prev) if prev != n => Some(s"$q returned $n rows, earlier $prev")
          case _ => counts(q) = n; None
        })
      })
    }
  }

  /** Per module: median seconds per pass and jobs per pass. */
  override def layers(ctx: Ctx, w: WindowResult): Seq[(String, Any)] = {
    val passes = w.records.groupBy(_.pass).values.filter(_.length == Suite.Sample.length).toSeq
    Suite.Sample.flatMap(Suite.module).distinct.sorted.flatMap { m =>
      val mine = passes.map(_.filter(r => Suite.module(r.name).contains(m)))
      Seq(s"suite.${m}_s" -> Stats.median(mine.map(_.map(_.secs).sum)),
        s"suite.$m.jobs" -> mine.map(_.map(_.counters.jobs).sum).sum.toDouble / mine.length)
    }
  }

  override def extraOutput(ctx: Ctx): Seq[(String, Any)] = Seq(
    "suite_dir" -> dataDir(ctx),
    "suite_tables" -> SuiteData.Tables,
    "suite_counts" -> counts.toSeq,
    "suite_oracle" -> Suite.Sample.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")))
}
