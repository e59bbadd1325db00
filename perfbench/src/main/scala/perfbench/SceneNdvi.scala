package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.Settings
import graft.geo.Geodesy
import graft.model.RasterModel
import graft.pipeline.NdviPipeline
import graft.raster.{Clip, NdviKernel, Resample}
import graft.sink.TxnCatalog
import graft.sources.GeoTiff

/** A seeded synthetic Landsat-shaped band pair: uint16 red and NIR on a
  * UTM 35N grid, a slanted DN-0 fill border and a sprinkle of DN-0 pixels,
  * centred on the reference AOI. */
final class Scene(val width: Int, val height: Int, val pixel: Double, seed: Long) {
  val epsg = 32635
  /** The reference AOI (FIXTURES.md §2) in WGS84, then in the scene CRS. */
  val aoiLonLat: Seq[(Double, Double)] =
    Seq((25.13, 60.32), (25.63, 60.32), (25.63, 60.63), (25.13, 60.63), (25.13, 60.32))
  val aoiUtm: Seq[(Double, Double)] =
    aoiLonLat.map { case (x, y) => Geodesy.transformPoint(x, y, 4326, epsg) }
  private val cx = (aoiUtm.map(_._1).min + aoiUtm.map(_._1).max) / 2
  private val cy = (aoiUtm.map(_._2).min + aoiUtm.map(_._2).max) / 2
  val x0: Double = math.rint((cx - width * pixel / 2) / pixel) * pixel
  val y0: Double = math.rint((cy + height * pixel / 2) / pixel) * pixel
  val transform: Seq[Double] = Seq(pixel, 0.0, x0, 0.0, -pixel, y0)

  val (red, nir): (Array[Int], Array[Int]) = {
    val r = new Array[Int](width * height)
    val n = new Array[Int](width * height)
    val slant = 0.15 * width
    var row = 0
    while (row < height) {
      val lo = (slant * row / height).toInt
      val hi = width - 1 - (slant * (height - row) / height).toInt
      val edgeRow = row < height / 50 || row >= height - height / 50
      var col = 0
      while (col < width) {
        val i = row * width + col
        val h = Scene.mix(seed, i)
        if (!edgeRow && col >= lo && col <= hi && (h & 1023) != 0) {
          // smooth fields plus noise; NIR brighter than red (vegetation)
          val field = ((col * 7 + row * 13) & 4095)
          r(i) = 7000 + field / 2 + ((h >>> 10) & 2047).toInt
          n(i) = 12000 + field * 3 + ((h >>> 21) & 8191).toInt
        }
        col += 1
      }
      row += 1
    }
    (r, n)
  }

  def write(dir: Path, sceneId: String): Unit = {
    Files.createDirectories(dir)
    def tif(px: Array[Int]) = GeoTiff.writeTiled(px, width, height, epsg, transform,
      nodata = Some(0.0), tileSize = RasterModel.TileSize, compression = 8, predictor = 2)
    Files.write(dir.resolve(s"${sceneId}_red.tif"), tif(red))
    Files.write(dir.resolve(s"${sceneId}_nir.tif"), tif(nir))
  }

  def aoiWkt: String =
    aoiLonLat.map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")

  /** The reference result, computed with a plain loop: pixel centres inside
    * the AOI (even-odd rule), float32 NDVI as in FIXTURES.md §1, DN 0 masked.
    * Returns (mean NDVI, valid pixels, pixels whose centre is in the AOI). */
  lazy val reference: (Double, Long, Long) = {
    val xs = aoiUtm.map(_._1).toArray; val ys = aoiUtm.map(_._2).toArray
    val c0 = math.max(0, ((xs.min - x0) / pixel).toInt - 1)
    val c1 = math.min(width - 1, ((xs.max - x0) / pixel).toInt + 1)
    val r0 = math.max(0, ((y0 - ys.max) / pixel).toInt - 1)
    val r1 = math.min(height - 1, ((y0 - ys.min) / pixel).toInt + 1)
    var sum = 0.0; var n = 0L; var inside = 0L
    var row = r0
    while (row <= r1) {
      val py = y0 - pixel * (row + 0.5)
      var col = c0
      while (col <= c1) {
        val px = x0 + pixel * (col + 0.5)
        if (Scene.pointInRing(px, py, xs, ys)) {
          inside += 1
          val i = row * width + col
          Scene.ndvi(red(i), nir(i)).foreach { v => sum += v; n += 1 }
        }
        col += 1
      }
      row += 1
    }
    (if (n > 0) sum / n else Double.NaN, n, inside)
  }
}

object Scene {
  /** splitmix64 of (seed, index): the pixel noise source. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** NDVI of one DN pair as the reference computes it (FIXTURES.md §1):
    * scale, offset and ratio in double precision (NumPy promotes the uint16
    * bands), the result stored as float32. None when masked. The engine
    * works in float32 throughout, so single pixels may differ by one ulp. */
  def ndvi(redDn: Int, nirDn: Int): Option[Float] = {
    if (redDn == 0 || nirDn == 0) return None
    val r = redDn * 0.0000275 - 0.2
    val n = nirDn * 0.0000275 - 0.2
    val v = ((n - r) / (n + r + 1e-6)).toFloat
    if (v.isNaN || v.isInfinite) None else Some(math.max(-1f, math.min(1f, v)))
  }

  def pointInRing(x: Double, y: Double, xs: Array[Double], ys: Array[Double]): Boolean = {
    var in = false
    var j = xs.length - 1
    var i = 0
    while (i < xs.length) {
      if ((ys(i) > y) != (ys(j) > y) &&
          x < (xs(j) - xs(i)) * (y - ys(i)) / (ys(j) - ys(i)) + xs(i)) in = !in
      j = i; i += 1
    }
    in
  }

  /** The generator's self-check: the golden NDVI of FIXTURES.md §1 and a
    * pixel-for-pixel GeoTIFF round trip of a small scene with edge tiles. */
  def selfCheck(seed: Long): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (!ndvi(1000, 3000).contains(-0.18965582f))
      errs += s"golden NDVI: got ${ndvi(1000, 3000)}, want -0.18965582"
    val s = new Scene(300, 260, 30.0, seed)
    val bytes = GeoTiff.writeTiled(s.red, s.width, s.height, s.epsg, s.transform,
      nodata = Some(0.0), tileSize = RasterModel.TileSize, compression = 8, predictor = 2)
    val tiles = GeoTiff.toBandTiles("S", "red", bytes)
    var bad = 0L
    tiles.foreach { t =>
      var k = 0
      while (k < t.width * t.height) {
        val i = (t.tile_row * RasterModel.TileSize + k / t.width) * s.width +
          t.tile_col * RasterModel.TileSize + k % t.width
        if (!t.pixels(k).contains(s.red(i).toFloat)) bad += 1
        k += 1
      }
    }
    if (tiles.map(t => t.width.toLong * t.height).sum != s.width.toLong * s.height)
      errs += "round trip: tile pixel count differs from the scene"
    if (bad > 0) errs += s"round trip: $bad pixels differ"
    errs.result()
  }
}

/** scene_ndvi / scene_full: band files on disk → NdviPipeline.run →
  * NdviPipeline.commitRunTxn into a fresh root, per scene. */
final class SceneNdvi(width: Int, height: Int, pixel: Double) extends Workload {
  private val sceneId = "LC08_L2SP_187018_20220610_20220616_02_T1"
  private var scene: Scene = _
  private var sceneDir: Path = _
  private var fileBytes = 0L


  private def inputs(spark: SparkSession): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val catalog = Seq((sceneId, 5.0, "2022-06-10 09:30:00")).toDF("scene_id", "cloud_cover", "dt")
      .select(col("scene_id"), col("cloud_cover"), col("dt").cast("timestamp").as("datetime"))
    val xs = scene.aoiLonLat.map(_._1); val ys = scene.aoiLonLat.map(_._2)
    val aoi = Seq(RasterModel.Aoi(1L, "AOI", scene.aoiWkt, xs.min, ys.min, xs.max, ys.max)).toDF()
    val full = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("scene_id STRING, acquisition_date DATE"))
    val clipped = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("scene_id STRING, aoi_id BIGINT, mean_ndvi DOUBLE"))
    (catalog, aoi, full, clipped)
  }

  private val settings: Settings = Settings.fromString(
    """dates:
      |  start: "2022-06-01"
      |  end: "2022-08-31"
      |download:
      |  max_cloud_cover: 10
      |  max_items: 10
      |products:
      |  reproject_crs: "EPSG:3857"
      |  build_overviews: true
      |""".stripMargin)
  private var runs = 0

  def prepare(h: Harness, rep: Int): Unit = {
    h.newSession()
    if (rep == 1) {
      h.setupChecks += 1
      Scene.selfCheck(h.args.seed).foreach(e => h.setupFailures += s"self-check: $e")
    }
    scene = new Scene(width, height, pixel, h.args.seed)
    sceneDir = h.args.work.resolve(s"scene-$rep")
    scene.write(sceneDir, sceneId)
    fileBytes = Files.list(sceneDir).toArray.map(p => Files.size(p.asInstanceOf[Path])).sum
  }

  override def minRounds: Int = 3

  def warmUp(h: Harness): Unit = round(h, -1)

  def round(h: Harness, r: Int): Unit = {
    runs += 1
    val root = h.args.work.resolve(s"out-$runs")
    h.timedOp("scene") {
      val res = runScene(h, sceneDir, root)
      h.untimed(check(h, scene, res, root))
    }
  }

  private def runScene(h: Harness, dir: Path, root: Path): NdviPipeline.Result = {
    val spark = h.spark
    val (catalog, aoi, full, clipped) = inputs(spark)
    val tiles = h.call("sources.bandTiles")(GeoTiff.bandTiles(spark, dir.toString).toDF())
    val r = h.call("pipeline.run")(
      NdviPipeline.run(spark, settings, catalog, tiles, aoi, full, clipped))
    h.call("pipeline.commitRunTxn")(NdviPipeline.commitRunTxn(spark, r, root.toString))
    r
  }

  /** Committed products against the plain-loop reference. */
  private def check(h: Harness, scene: Scene, r: NdviPipeline.Result, root: Path): Boolean = {
    val spark = h.spark
    val (refMean, refN, _) = scene.reference
    val cat = root.resolve("_catalog").toString
    val tables = TxnCatalog.snapshot(spark, cat).tables.keySet
    val clipped = TxnCatalog.read(spark, cat, "ndvi_clipped").collect()
    val full = TxnCatalog.read(spark, cat, "ndvi_full").collect()
    val meanOk = clipped.length == 1 && {
      val m = clipped.head.getAs[Double]("mean_ndvi")
      math.abs(m - refMean) <= 1e-6
    }
    val ok = r.summary == NdviPipeline.RunSummary(1, 1, 0) &&
      tables == Set("ndvi_full", "ndvi_clipped", "ndvi_viz") && full.length == 1 && meanOk
    if (!ok) System.err.println(s"[perfbench] scene check: summary=${r.summary} tables=$tables " +
      s"clipped=${clipped.toSeq} ref=($refMean,$refN)")
    ok
  }

  override def layerMetrics(h: Harness, ops: Seq[Op]): Seq[Metric] = {
    val t = h.tracer.get
    def med(name: String) = Stats.median(t.spansNamed(name).map(_.seconds))
    val roots = t.spansNamed("scene")
    val readRatio = Stats.median(roots.map(_.delta.inputBytes.toDouble / fileBytes))
    val scanTasks = Stats.median(roots.map(_.delta.scanTasks.toDouble))
    Seq(
      Metric("pipeline.run_s", med("pipeline.run"), "s"),
      Metric("pipeline.commit_s", med("pipeline.commitRunTxn"), "s"),
      Metric("pipeline.jobs_per_scene", Stats.median(roots.map(_.delta.jobs.toDouble)), "count"),
      Metric("sources.scene_read_ratio", readRatio, "ratio"),
      Metric("sources.scan_tasks_per_pass", if (readRatio > 0) scanTasks / readRatio else 0.0, "count"),
      Metric("raster.aoi_pixel_share", scene.reference._3.toDouble / (width.toLong * height), "ratio"))
  }

  /** Traced-only: single-thread decode rate and the raster prefix chain. */
  override def traceExtras(h: Harness): Seq[Metric] = {
    val spark = h.spark
    import spark.implicits._
    val bytes = Files.readAllBytes(sceneDir.resolve(s"${sceneId}_red.tif"))
    val decode = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val tiles = GeoTiff.toBandTiles(sceneId, "red", bytes)
      require(tiles.nonEmpty)
      (System.nanoTime() - t0) / 1e9
    })
    def noop(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val (_, aoi, _, _) = inputs(spark)
    val tiles = GeoTiff.bandTiles(spark, sceneDir.toString).toDF()
    val ndvi = NdviKernel.computeNdvi(tiles)
    val clipped = Clip.clipToAoi(ndvi, Clip.reprojectAoi(aoi, scene.epsg))
    val mean = NdviKernel.meanNdvi(clipped, Seq("scene_id", "aoi_id"))
    val tileCols = Seq("scene_id", "band", "tile_col", "tile_row", "width",
      "height", "epsg", "transform", "nodata", "pixels")
    val bands = clipped
      .withColumn("scene_id", concat_ws("#", col("scene_id"), col("aoi_id")))
      .select(tileCols.map(col): _*)
    val viz = Resample.reprojectScenes(spark, bands.as[RasterModel.BandTile], 3857, resM = 0.0).toDF()
    val tDecode = noop(tiles)
    val tNdvi = noop(ndvi)
    val tClip = noop(clipped)
    // the mean prefix is collected, not sent to the noop sink: its one row
    // carries n_valid, which is checked against the reference here
    val t0 = System.nanoTime()
    val meanRows = mean.collect()
    val tMean = (System.nanoTime() - t0) / 1e9
    h.setupChecks += 1
    if (!(meanRows.length == 1 && meanRows.head.getAs[Long]("n_valid") == scene.reference._2))
      h.setupFailures += s"n_valid: got ${meanRows.map(_.getAs[Long]("n_valid")).toSeq}, want ${scene.reference._2}"
    val tWarp = noop(viz)
    // Prefixes are not strictly nested in cost: once the clip's join drops
    // the tiles outside the AOI, generated code skips their NDVI, so the
    // clip prefix can cost less than the NDVI prefix. clip_s is therefore
    // measured from the decode prefix and includes NDVI on the AOI tiles.
    Seq(
      Metric("sources.decode_mpix_per_s", width.toDouble * height / 1e6 / decode, "Mpix/s"),
      Metric("raster.decode_s", tDecode, "s"),
      Metric("raster.ndvi_s", tNdvi - tDecode, "s"),
      Metric("raster.clip_s", tClip - tDecode, "s"),
      Metric("raster.mean_s", tMean - tClip, "s"),
      Metric("raster.warp_s", tWarp - tClip, "s"))
  }
}
