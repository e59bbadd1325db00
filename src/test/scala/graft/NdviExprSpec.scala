package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.RasterModel
import graft.raster.NdviKernel

/** The native NdviKernelExpr against the HOF reference implementation:
  * identical output on the golden fixture and on randomized DN tiles
  * (seeded), including mask/nodata/extreme branches. */
class NdviExprSpec extends SparkSpec {
  import spark.implicits._

  /** N2–N8 for one pixel pair as float32 Column arithmetic (NULL = masked):
    * the reference implementation the native kernel is checked against. */
  private def ndviPixel(red: Column, nir: Column,
                        redNodata: Column, nirNodata: Column): Column = {
    import NdviKernel.{Eps, Offset, Scale}
    // N3: mask on raw DNs (fill value 0 + declared nodata), before scaling.
    val masked = red.isNull || nir.isNull ||
      red === 0f || nir === 0f ||
      (redNodata.isNotNull && red === redNodata.cast("float")) ||
      (nirNodata.isNotNull && nir === nirNodata.cast("float"))
    // N4: scale in float32.
    val r = red * lit(Scale) + lit(Offset)
    val n = nir * lit(Scale) + lit(Offset)
    // N5: non-finite after scaling.
    val nonFinite = isnan(r) || isnan(n) ||
      r === Float.PositiveInfinity || r === Float.NegativeInfinity ||
      n === Float.PositiveInfinity || n === Float.NegativeInfinity
    // N6: epsilon-safe ratio. Spark's Divide always widens to double; the
    // cast back to float is the closest available float32 semantics (the
    // operands are exact float32 values, so only the final rounding step
    // can differ from NumPy's native float32 divide, by at most one ulp
    // in double-rounding corner cases).
    val ratio = ((n - r) / (n + r + lit(Eps))).cast("float")
    // N8 on real values; masked stays NULL (N7 at sink only).
    when(masked || nonFinite, lit(null).cast("float"))
      .otherwise(least(greatest(ratio, lit(-1f)), lit(1f)))
  }

  /** The HOF reference chain: [[NdviKernel.computeNdvi]]'s output shape
    * with the kernel as an interpreted zip_with lambda over [[ndviPixel]]. */
  private def hofNdvi(tiles: DataFrame): DataFrame =
    NdviKernel.pairBands(tiles).select(
      col("scene_id"), lit("ndvi").as("band"),
      col("tile_col"), col("tile_row"),
      col("width"), col("height"), col("epsg"), col("transform"),
      lit(NdviKernel.NodataOut.toDouble).as("nodata"),
      zip_with(col("red_px"), col("nir_px"),
        (r, n) => ndviPixel(r, n, col("red_nodata"), col("nir_nodata"))).as("pixels"))

  private def pixelsOf(df: DataFrame): Seq[Option[Float]] =
    df.orderBy("scene_id").collect().toSeq.flatMap(
      _.getSeq[Any](9).map(v => Option(v).map(_.asInstanceOf[Float])))

  test("expr path equals HOF path on the golden fixture") {
    val tiles = RasterModel.dummyConstant(spark)
    val a = pixelsOf(NdviKernel.computeNdvi(tiles))
    val b = pixelsOf(hofNdvi(tiles))
    assert(a == b)
    // float32-exact golden value, computed in Scala float arithmetic
    // (identical to NumPy float32: -0.18965584f)
    val expected = {
      val r = 1000f * NdviKernel.Scale + NdviKernel.Offset
      val n = 3000f * NdviKernel.Scale + NdviKernel.Offset
      (n - r) / (n + r + NdviKernel.Eps)
    }
    assert(a.head.contains(expected))
  }

  test("expr path equals HOF path on randomized DN tiles with mask branches") {
    val rng = new scala.util.Random(7)
    val mk = (scene: String, band: String) => RasterModel.BandTile(
      scene, band, 0, 0, 16, 16, 4326, Seq(0.1, 0, 0, 0, -0.1, 0), Some(7.0),
      Seq.fill(256)(rng.nextInt(20) match {
        case 0 => None                         // null pixel
        case 1 => Some(0f)                     // fill value
        case 2 => Some(7f)                     // declared nodata
        case _ => Some(rng.nextInt(65536).toFloat)
      }))
    val tiles = Seq(mk("A", "red"), mk("A", "nir"), mk("B", "red"), mk("B", "nir")).toDF()
    val a = pixelsOf(NdviKernel.computeNdvi(tiles))
    val b = pixelsOf(hofNdvi(tiles))
    assert(a.length == 512)
    // element-wise compare; double-divide-then-cast vs native float32 divide
    // may differ by one ulp in rare double-rounding cases — assert bitwise
    // equality and report any divergence explicitly.
    val diffs = a.zip(b).zipWithIndex.filter { case ((x, y), _) => x != y }
    assert(diffs.isEmpty, s"paths diverged at ${diffs.take(3)}")
  }

  test("NULL-literal and integer-literal nodata are valid inputs on both execution paths") {
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(Some(1000f), Some(7f)), Seq(Some(3000f), Some(3000f))))
      .toDF("r", "n")
    // NULL nodata: no declared-nodata masking; int nodata 7 masks pixel 2
    val nullCase = df.select(graft.raster.NdviKernelExpr(
      col("r"), col("n"), lit(null), lit(null)).as("px")).head.getSeq[Any](0)
    assert(nullCase.forall(_ != null))
    val intCase = df.select(graft.raster.NdviKernelExpr(
      col("r"), col("n"), lit(7), lit(0)).as("px")).head.getSeq[Any](0)
    assert(intCase(0) != null && intCase(1) == null)
  }

  test("non-numeric nodata fails at analysis, not at runtime") {
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(Some(1f)), Seq(Some(2f)))).toDF("r", "n")
    val e = intercept[Exception] {
      df.select(graft.raster.NdviKernelExpr(
        col("r"), col("n"), lit("oops"), lit(0.0)).as("px")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("nodata") ||
      e.getMessage.toLowerCase.contains("data type"), e.getMessage)
  }

  test("meanNdvi over expr path matches fixture mean") {
    val ndvi = NdviKernel.computeNdvi(RasterModel.dummyConstant(spark))
    val m = NdviKernel.meanNdviPerScene(ndvi).head
    assert(m.getLong(2) == 10000)
    assert(math.abs(m.getDouble(1) - -0.18965582) < 1e-6)
  }
}
