package graft.raster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.geo.{Geodesy, Wkt}
import graft.geo.GeoExpressions.st_contains

/** Spatial clip — the reference's raster×AOI "join"
  * (reference src/transform/compute_ndvi.py:95-160, SURVEY.md §2.4 C1–C6):
  * a broadcast spatial semi-join on envelope overlap plus an exact per-pixel
  * point-in-polygon mask.
  *
  * Scale design: the AOI side is tiny (one-to-few polygons) and is
  * broadcast, so the tile table never shuffles; envelope overlap is a
  * codegen'd comparison that prunes whole tiles (the partition-pruning
  * analog, SURVEY §4), and the exact PIP expression runs only on the
  * surviving boundary tiles. "Crop" = wholly-outside tiles dropped by the
  * join + outside pixels nulled; extent is data (tile bboxes), not schema.
  */
object Clip {

  /** Tile envelope from the affine transform (C1): pixel (px,py) maps to
    * x = c + a·px, y = f + e·py (north-up: b = d = 0, e < 0). */
  def tileBounds(df: DataFrame): DataFrame = {
    val a = element_at(col("transform"), 1)
    val c = element_at(col("transform"), 3)
    val e = element_at(col("transform"), 5)
    val f = element_at(col("transform"), 6)
    val x0 = c + a * (col("tile_col") * lit(graft.model.RasterModel.TileSize))
    val y0 = f + e * (col("tile_row") * lit(graft.model.RasterModel.TileSize))
    df.withColumn("t_minx", x0)
      .withColumn("t_maxx", x0 + a * col("width"))
      .withColumn("t_maxy", y0)
      .withColumn("t_miny", y0 + e * col("height"))
  }

  /** Envelope-overlap predicate (F3/C5). */
  def bboxOverlap(minx: Column, miny: Column, maxx: Column, maxy: Column,
                  qminx: Column, qminy: Column, qmaxx: Column, qmaxy: Column): Column =
    !(maxx < qminx || minx > qmaxx || maxy < qminy || miny > qmaxy)

  /** C3: reproject the AOI table (EPSG:4326 WKT + envelope) into the tile
    * CRS (the reference's aoi.to_crs(raster_crs), compute_ndvi.py:114-118).
    * Vertex-wise transform, driver-side — the AOI side is dimension-sized.
    * Without this, clipToAoi would compare AOI degrees against tile
    * meters and silently match nothing on projected scenes. */
  def reprojectAoi(aoi: DataFrame, dstEpsg: Int, srcEpsg: Int = 4326): DataFrame = {
    if (dstEpsg == srcEpsg) return aoi
    val spark = aoi.sparkSession
    import spark.implicits._
    val rows = aoi.select("aoi_id", "name", "geom_wkt", "minx", "miny", "maxx", "maxy")
      .as[(Long, String, String, Double, Double, Double, Double)].collect()
      .map { case (id, name, wkt, _, _, _, _) =>
        val polys = Wkt.parse(wkt).map { p =>
          Wkt.Polygon(p.rings.map(_.map { case (x, y) =>
            Geodesy.transformPoint(x, y, srcEpsg, dstEpsg) }))
        }
        val wkt2 = toWkt(polys)
        val env = Wkt.envelope(polys)
        graft.model.RasterModel.Aoi(id, name, wkt2, env._1, env._2, env._3, env._4)
      }
    spark.createDataFrame(rows.toSeq)
  }

  /** C4: validate-and-repair the AOI table's geometry at ingest (the
    * reference's union + buffer(0) + TopologicalError fallback,
    * compute_ndvi.py:115-126). Valid rows pass through untouched; a
    * self-intersecting ring (bow-tie) is node-split into its simple
    * sub-rings (same even-odd region); irreparably empty geometry throws.
    * Driver-side like [[reprojectAoi]] — the AOI side is dimension-sized. */
  def validateAoi(aoi: DataFrame): DataFrame = {
    val spark = aoi.sparkSession
    import spark.implicits._
    val rows = aoi.select("aoi_id", "name", "geom_wkt", "minx", "miny", "maxx", "maxy")
      .as[(Long, String, String, Double, Double, Double, Double)].collect()
      .map { case (id, name, wkt, mnx, mny, mxx, mxy) =>
        val polys = Wkt.parse(wkt)
        if (Wkt.isValid(polys))
          graft.model.RasterModel.Aoi(id, name, wkt, mnx, mny, mxx, mxy)
        else {
          val fixed = Wkt.repair(polys)
          val env = Wkt.envelope(fixed)
          graft.model.RasterModel.Aoi(id, name, toWkt(fixed), env._1, env._2, env._3, env._4)
        }
      }
    spark.createDataFrame(rows.toSeq)
  }

  private def toWkt(polys: Seq[Wkt.Polygon]): String = {
    def ring(r: Seq[(Double, Double)]) =
      r.map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")")
    def poly(p: Wkt.Polygon) = p.rings.map(ring).mkString("(", ", ", ")")
    if (polys.length == 1) s"POLYGON ${poly(polys.head)}"
    else s"MULTIPOLYGON ${polys.map(poly).mkString("(", ", ", ")")}"
  }

  /** C5+C6: clip an NDVI tile table to AOI polygons. AOI must be in the
    * tiles' CRS (use [[reprojectAoi]] first for projected scenes — the
    * pipeline does). Returns one row per
    * (tile × overlapping AOI) with outside pixels nulled. Empty result for
    * a non-empty input means "Input shapes do not overlap raster"
    * (compute_ndvi.py:128-131) — see [[requireOverlap]]. */
  def clipToAoi(ndviTiles: DataFrame, aoi: DataFrame): DataFrame = {
    val tiles = tileBounds(ndviTiles)
    val a = element_at(col("transform"), 1)
    val e = element_at(col("transform"), 5)
    // pixel-center coords for flat index i: px = i % width, py = i / width
    def px(i: Column) = col("t_minx") + a * ((i % col("width")).cast("double") + lit(0.5))
    def py(i: Column) = col("t_maxy") + e * (floor(i / col("width")).cast("double") + lit(0.5))
    tiles
      .join(broadcast(aoi),
        bboxOverlap(col("t_minx"), col("t_miny"), col("t_maxx"), col("t_maxy"),
                    col("minx"), col("miny"), col("maxx"), col("maxy")))
      .withColumn("pixels",
        zip_with(col("pixels"),
          sequence(lit(0), col("width") * col("height") - 1),
          (p, i) => when(st_contains(col("geom_wkt"), px(i), py(i)), p)
            .otherwise(lit(null).cast("float"))))
      .drop("minx", "miny", "maxx", "maxy")
  }

  /** Multi-AOI zonal statistics in ONE pass — the query the reference
    * answers by looping one AOI at a time (compute_ndvi.py runs per-AOI):
    * nodata-aware mean NDVI per (aoi_id × `dateCol`) over EVERY AOI in one
    * job. The clip semi-join generalizes unchanged: envelope overlap
    * prunes (tile × AOI) pairs against the broadcast AOI table, exact PIP
    * masks pixel centers, and each surviving pair folds to a (sum, count)
    * partial INSIDE the projection — so the whole query is scan →
    * broadcast join → project → one (aoi_id, date) aggregate exchange.
    * At 100 TB that is the minimal shape: the tile table never shuffles
    * except for the group-by, and the fold means no explode ever
    * materializes pixels as rows. `ndviTiles` must carry `dateCol`
    * (the pipeline attaches the scene's acquisition date, F7). */
  def zonalStats(ndviTiles: DataFrame, aoi: DataFrame,
                 dateCol: String = "acquisition_date"): DataFrame = {
    val clipped = clipToAoi(ndviTiles, aoi)
    val acc = aggregate(col("pixels"),
      struct(lit(0.0).as("sm"), lit(0L).as("c")),
      (a, p) => struct(
        (a("sm") + coalesce(p.cast("double"), lit(0.0))).as("sm"),
        (a("c") + p.isNotNull.cast("long")).as("c")))
    clipped
      .select(col("aoi_id"), col(dateCol), acc.as("acc"))
      .groupBy(col("aoi_id"), col(dateCol))
      .agg(sum(col("acc.sm")).as("sum_ndvi"), sum(col("acc.c")).as("n_valid"))
      .select(col("aoi_id"), col(dateCol),
        when(col("n_valid") > 0, col("sum_ndvi") / col("n_valid"))
          .otherwise(lit(null)).as("mean_ndvi"),
        col("n_valid"))
  }

  /** The reference's overlap error, as an action-time check on the clip
    * result's row count (the reference raises eagerly per scene; our
    * plan-level equivalent validates the materialized clip before the
    * sink). */
  def requireOverlap(clippedRows: Long, inputNonEmpty: Boolean): Unit =
    if (inputNonEmpty && clippedRows == 0)
      throw new IllegalArgumentException("Input shapes do not overlap raster")
}
