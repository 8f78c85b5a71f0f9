package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Focal stats: the halo-exchange operator must be row-for-row equal to
  * the declarative offset-explode baseline (the semantics definition),
  * including grid edges, nodata, ragged chunks, sparse stores, and
  * radius 2.
  */
class GridFocalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val tinyRoot: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_focal_tiny").toString
    SyntheticGrid.writeTiny(spark, r)
    r
  }
  private lazy val tinyH = SyntheticGrid.tinyHeader

  private def sortKey = Seq("x", "y", "t")

  private def assertSame(a: org.apache.spark.sql.DataFrame,
                         b: org.apache.spark.sql.DataFrame): Unit = {
    val cols = a.columns.sorted.map(col(_))
    val la = a.select(cols: _*).orderBy(sortKey.map(col): _*).collect()
    val lb = b.select(cols: _*).orderBy(sortKey.map(col): _*).collect()
    assert(la.length == lb.length, s"${la.length} vs ${lb.length} rows")
    la.zip(lb).foreach { case (ra, rb) => assert(ra == rb) }
  }

  test("halo exchange == offset-explode baseline (tiny grid, r=1)") {
    assertSame(
      GridFocal.focalStats(spark, tinyH, tinyRoot, radius = 1,
        tFrom = 0, tTo = 3),
      GridFocal.focalStatsNaive(spark, tinyH, tinyRoot, radius = 1,
        tFrom = 0, tTo = 3))
  }

  test("radius 2 windows span chunk corners correctly") {
    assertSame(
      GridFocal.focalStats(spark, tinyH, tinyRoot, radius = 2,
        tFrom = 4, tTo = 6),
      GridFocal.focalStatsNaive(spark, tinyH, tinyRoot, radius = 2,
        tFrom = 4, tTo = 6))
  }

  test("unmasked run treats nodata as ordinary values") {
    assertSame(
      GridFocal.focalStats(spark, tinyH, tinyRoot, radius = 1,
        tFrom = 0, tTo = 1, maskNodata = false),
      GridFocal.focalStatsNaive(spark, tinyH, tinyRoot, radius = 1,
        tFrom = 0, tTo = 1, maskNodata = false))
  }

  test("sparse store: absent chunks are invalid neighbors, emit no rows") {
    // 40x20 grid, 10x10 chunks; drop chunk (1, 0) entirely
    val h = GridHeader(name = "focal_sparse", width = 40, height = 20,
      fracWidth = 10, fracHeight = 10, fracNDates = 2, dtype = "float32",
      srs = "wgs84", geot = Seq(0.0, 0.01, 0.0, 0.0, 0.0, -0.01),
      timestampsMs = Seq(0L, 86400000L), nodata = -1.0)
    val px = SyntheticGrid.pixelDf(spark, h,
        (x, y, t) => ((x * 3 + y * 5 + t) % 11).cast("double"))
      .filter(!(col("x").between(10, 19) && col("y").between(0, 9)))
    val root = java.nio.file.Files.createTempDirectory("graft_focal_sp").toString
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    val halo = GridFocal.focalStats(spark, h, root, 1, 0, 2)
    // no rows for the absent chunk's pixels
    assert(halo.filter(col("x").between(10, 19) && col("y").between(0, 9))
      .count() == 0)
    assertSame(halo, GridFocal.focalStatsNaive(spark, h, root, 1, 0, 2))
  }

  private val gauss = Seq(Seq(1.0, 2.0, 1.0), Seq(2.0, 4.0, 2.0),
    Seq(1.0, 2.0, 1.0))
  private val sobelX = Seq(Seq(-1.0, 0.0, 1.0), Seq(-2.0, 0.0, 2.0),
    Seq(-1.0, 0.0, 1.0))

  /** Declarative twin of focalConvolve for the differential tests:
    * contribution of pixel (x, y) to center (x+dx, y+dy) carries the
    * kernel weight of the pixel's position RELATIVE TO THE CENTER,
    * i.e. kernel(r-dy)(r-dx) — order matters for antisymmetric
    * kernels like Sobel. */
  private def convolveNaive(h: GridHeader, root: String,
                            kernel: Seq[Seq[Double]], tFrom: Int, tTo: Int,
                            renormalize: Boolean) = {
    val r = kernel.length / 2
    val px = FractionStore.pixels(h,
        FractionStore.fractionsForWindow(spark, h, root,
          0, h.width, 0, h.height, tFrom, tTo), maskNodata = true)
      .filter(col("t") >= tFrom && col("t") < tTo)
    val offs = for {
      dy <- -r to r; dx <- -r to r
    } yield (dx, dy, kernel(r - dy)(r - dx))
    val contrib = px.select(col("x"), col("y"), col("t"), col("value"),
        explode(array(offs.map { case (dx, dy, w) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy"), lit(w).as("w"))
        }: _*)).as("o"))
      .select((col("x") + col("o.dx")).as("cx"),
        (col("y") + col("o.dy")).as("cy"), col("t"),
        col("value"), col("o.w"))
      .filter(col("cx").between(0, h.width - 1) &&
        col("cy").between(0, h.height - 1))
    val agg =
      if (renormalize)
        contrib.groupBy(col("cx").as("x"), col("cy").as("y"), col("t"))
          .agg(when(sum(when(col("value").isNotNull, col("w"))) > 0,
            sum(when(col("value").isNotNull,
              col("w") * col("value").cast("double"))) /
              sum(when(col("value").isNotNull, col("w")))).as("conv"))
      else
        contrib.groupBy(col("cx").as("x"), col("cy").as("y"), col("t"))
          .agg(when(count(lit(1)) === (2 * r + 1) * (2 * r + 1) &&
            count(col("value")) === (2 * r + 1) * (2 * r + 1),
            sum(col("w") * col("value").cast("double"))).as("conv"))
    agg.join(px.select("x", "y", "t").distinct(), Seq("x", "y", "t"),
      "left_semi")
  }

  test("gaussian smoothing: halo convolve == declarative twin") {
    assertSame(
      GridFocal.focalConvolve(spark, tinyH, tinyRoot, gauss, 0, 2),
      convolveNaive(tinyH, tinyRoot, gauss, 0, 2, renormalize = true))
  }

  test("sobel gx (strict windows): halo convolve == declarative twin") {
    assertSame(
      GridFocal.focalConvolve(spark, tinyH, tinyRoot, sobelX, 3, 5,
        renormalize = false),
      convolveNaive(tinyH, tinyRoot, sobelX, 3, 5, renormalize = false))
  }

  test("hand-computed gaussian and sobel on a 3x3 grid of value x") {
    val h = GridHeader(name = "conv_hand", width = 3, height = 3,
      fracWidth = 3, fracHeight = 3, fracNDates = 1, dtype = "float32",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(0L), nodata = -1.0)
    val px = SyntheticGrid.pixelDf(spark, h, (x, _, _) => x.cast("double"))
    val root = java.nio.file.Files.createTempDirectory("graft_conv_h").toString
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    val gsm = GridFocal.focalConvolve(spark, h, root, gauss, 0, 1)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // center (1,1): full window, value = weighted mean of x = 1.0
    assert(gsm((1, 1)) == Some(1.0))
    // left edge (0,1): valid cells x in {0,1}, weights {2+4+2=8 for x=0? }
    // columns x=0 (w 2,4,2 -> 8... wait kernel col dx=0 is 2,4,2) and
    // x=1 (dx=+1: 1,2,1 -> 4): mean = (0*8 + 1*4) / 12 = 1/3
    assert(gsm((0, 1)) == Some(4.0 / 12.0))
    val sx = GridFocal.focalConvolve(spark, h, root, sobelX, 0, 1,
        renormalize = false)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // only (1,1) has a full window: gx = sum of sobel * x = 8
    assert(sx((1, 1)) == Some(8.0))
    assert(sx((0, 0)) == None && sx((2, 1)) == None)
  }

  test("terrain: Horn gradients are exact on a planar surface") {
    // z = 2x + 3y over a 6x6 grid in 2x2 chunks of 3x3 (so interior
    // windows cross chunk borders); cell size 1 -> dz/dx = 2, dz/dy = 3
    // exactly, everywhere in the interior
    val h = GridHeader(name = "terr_plane", width = 6, height = 6,
      fracWidth = 3, fracHeight = 3, fracNDates = 1, dtype = "float32",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(0L), nodata = -1.0)
    val px = SyntheticGrid.pixelDf(spark, h,
      (x, y, _) => (x * 2 + y * 3).cast("double"))
    val root = java.nio.file.Files.createTempDirectory("graft_terr").toString
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    val rows = GridFocal.focalTerrain(spark, h, root, 0, 1).collect()
    // edges have incomplete windows -> interior only
    assert(rows.length == 16)
    val expSlope = math.floor(
      math.toDegrees(math.atan(math.sqrt(13.0))) * 1000 + 0.5) / 1000
    // atan2(3, -2) > 90 deg -> ESRI aspect = 450 - deg(atan2)
    val expAspect = math.floor(
      (450.0 - math.toDegrees(math.atan2(3.0, -2.0))) * 1000 + 0.5) / 1000
    rows.foreach { r =>
      assert(r.getDouble(3) == expSlope, s"slope at $r")
      assert(r.getDouble(4) == expAspect, s"aspect at $r")
      val hs = r.getDouble(5)
      assert(hs >= 0.0 && hs <= 255.0)
    }
  }

  test("terrain: a nodata hole invalidates every window containing it") {
    val h = GridHeader(name = "terr_hole", width = 6, height = 6,
      fracWidth = 3, fracHeight = 3, fracNDates = 1, dtype = "float32",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(0L), nodata = -1.0)
    val px = SyntheticGrid.pixelDf(spark, h, (x, y, _) =>
      when(x === 2 && y === 2, lit(-1.0))
        .otherwise((x * 2 + y * 3).cast("double")))
    val root = java.nio.file.Files.createTempDirectory("graft_terrh").toString
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    val out = GridFocal.focalTerrain(spark, h, root, 0, 1).collect()
    // 16 interior centers minus the 9 whose window covers (2,2)
    assert(out.length == 7)
    assert(!out.exists(r => math.abs(r.getInt(0) - 2) <= 1 &&
      math.abs(r.getInt(1) - 2) <= 1))
  }

  test("hand-computed corner window (dense 3x3 grid of value x+y)") {
    val h = GridHeader(name = "focal_hand", width = 3, height = 3,
      fracWidth = 3, fracHeight = 3, fracNDates = 1, dtype = "float32",
      srs = "wgs84", geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      timestampsMs = Seq(0L), nodata = -1.0)
    val px = SyntheticGrid.pixelDf(spark, h,
      (x, y, _) => (x + y).cast("double"))
    val root = java.nio.file.Files.createTempDirectory("graft_focal_h").toString
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    val rows = GridFocal.focalStats(spark, h, root, 1, 0, 1)
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    // corner (0,0): window = {(0,0)=0,(1,0)=1,(0,1)=1,(1,1)=2}
    assert(rows((0, 0)) == ((4L, 1.0, 0.0, 2.0)))
    // center (1,1): all 9, values 0..4 summing to 18
    assert(rows((1, 1)) == ((9L, 2.0, 0.0, 4.0)))
    // edge (1,0): 6 cells {0,1,2,1,2,3}
    assert(rows((1, 0)) == ((6L, 1.5, 0.0, 3.0)))
  }

  /** The 40x20 float32 store in 10x10 chunks with chunk (1, 0) absent
    * (the sparse-store case above), shared by the convolve and terrain
    * sparse cases. */
  private lazy val (sparseH, sparseRoot) = {
    val h = GridHeader(name = "focal_sparse2", width = 40, height = 20,
      fracWidth = 10, fracHeight = 10, fracNDates = 2, dtype = "float32",
      srs = "wgs84", geot = Seq(0.0, 0.01, 0.0, 0.0, 0.0, -0.01),
      timestampsMs = Seq(0L, 86400000L), nodata = -1.0)
    val px = SyntheticGrid.pixelDf(spark, h,
        (x, y, t) => ((x * 3 + y * 5 + t) % 11).cast("double"))
      .filter(!(col("x").between(10, 19) && col("y").between(0, 9)))
    val root = java.nio.file.Files.createTempDirectory("graft_focal_sp2")
      .toString
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h, px), root)
    (h, root)
  }

  test("sparse store: convolve == declarative twin, absent chunk invalid") {
    val smooth = GridFocal.focalConvolve(spark, sparseH, sparseRoot, gauss,
      0, 2)
    assert(smooth.filter(col("x").between(10, 19) && col("y").between(0, 9))
      .count() == 0)
    assertSame(smooth,
      convolveNaive(sparseH, sparseRoot, gauss, 0, 2, renormalize = true))
    assertSame(
      GridFocal.focalConvolve(spark, sparseH, sparseRoot, sobelX, 0, 2,
        renormalize = false),
      convolveNaive(sparseH, sparseRoot, sobelX, 0, 2, renormalize = false))
  }

  test("5x5 kernel (radius 2, spanning chunk corners) == declarative twin") {
    // asymmetric integer weights: a transposed or mirrored window would
    // change the result
    val k5 = Seq.tabulate(5, 5)((dy, dx) => (dy * 5 + dx + 1).toDouble)
    assertSame(
      GridFocal.focalConvolve(spark, tinyH, tinyRoot, k5, 4, 6),
      convolveNaive(tinyH, tinyRoot, k5, 4, 6, renormalize = true))
    assertSame(
      GridFocal.focalConvolve(spark, tinyH, tinyRoot, k5, 4, 6,
        renormalize = false),
      convolveNaive(tinyH, tinyRoot, k5, 4, 6, renormalize = false))
  }

  test("terrain on a sparse store: no row whose window touches the " +
    "absent chunk") {
    val rows = GridFocal.focalTerrain(spark, sparseH, sparseRoot, 0, 2)
      .collect()
    // a center's 3x3 window touches chunk (1, 0) = x 10..19, y 0..9 iff
    // the center lies in x 9..20, y -1..10
    assert(!rows.exists(r => r.getInt(0) >= 9 && r.getInt(0) <= 20 &&
      r.getInt(1) <= 10))
    // every other interior center of both dates has a row (no nodata in
    // this store): (38 * 18 - 12 * 10) * 2
    assert(rows.length == (38 * 18 - 12 * 10) * 2)
  }

  test("a date range crossing a time-chunk boundary (tiny: fracNDates = 3)") {
    // t in [1, 4) reads time chunk 0 (t 1, 2) and time chunk 1 (t 3)
    val stats = GridFocal.focalStats(spark, tinyH, tinyRoot, 1, 1, 4)
    assert(stats.select("t").distinct().count() == 3)
    assertSame(stats,
      GridFocal.focalStatsNaive(spark, tinyH, tinyRoot, 1, 1, 4))
    assertSame(
      GridFocal.focalConvolve(spark, tinyH, tinyRoot, gauss, 1, 4),
      convolveNaive(tinyH, tinyRoot, gauss, 1, 4, renormalize = true))
    // terrain has no declarative twin: the range run must equal the
    // union of one-date runs, each inside a single time chunk
    val perDate = (1 until 4).map(t =>
      GridFocal.focalTerrain(spark, tinyH, tinyRoot, t, t + 1))
      .reduce(_ union _)
    val ranged = GridFocal.focalTerrain(spark, tinyH, tinyRoot, 1, 4)
    assert(ranged.count() > 0)
    assertSame(ranged, perDate)
  }
}
