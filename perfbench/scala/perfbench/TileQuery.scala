package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.grid.{FractionStore, GridHeader, GridKernels, GridZonal, Reproject, SyntheticGrid}
import graft.plans.LatLngPruning

/** Read side of the cube: one client issues a seeded sequence of
  * analysis queries against a two-band (NDVI int16, QA uint16)
  * MODIS-shaped store. Queries come in decks (every type once), each
  * deck in a seeded order, with seeded positions. Only the engine call
  * and its action are timed; the oracle runs afterwards. */
final class TileQuery(seed: Int) extends Workload {
  import TileQuery._

  private val ndviFn = Gen.TileNdvi(seed)
  private val qaFn = Gen.TileQa(seed)
  private val nh: GridHeader = SyntheticGrid.modisTileHeader("ndvi", "int16", Gen.NdviNodata)
    .copy(width = Side, height = Side, timestampsMs = Dates)
  private val qh: GridHeader = nh.copy(name = "qa", dtype = "uint16", nodata = Gen.QaNodata)
  /** WGS84 lattice anchored at the tile's north-west lat/lng corner. */
  private val wgs: GridHeader = {
    val corners = for (x <- Seq(0, Side); y <- Seq(0, Side)) yield nh.xyToLatLng(x, y)
    GridHeader("wgs", 2000, 2000, 250, 250, 1, "int16", "wgs84",
      Seq(corners.map(_._2).min, WgsRes, 0.0, corners.map(_._1).max, 0.0, -WgsRes),
      Dates.take(1), Gen.NdviNodata)
  }
  private var ndviRoot = ""
  private var qaRoot = ""

  def sizes: Map[String, Any] = Map(
    "px" -> Side.toLong * Side, "dates" -> NT, "bands" -> 2,
    "px_dates" -> Side.toLong * Side * NT,
    "chunk" -> s"${nh.fracWidth}x${nh.fracHeight}x${nh.fracNDates}",
    "deck" -> Kinds, "decks_per_run" -> Decks)

  def setup(spark: SparkSession, dir: Path, tr: Tracer): Map[String, Any] = {
    ndviRoot = dir.resolve("ndvi").toString
    qaRoot = dir.resolve("qa").toString
    SyntheticGrid.writeDirect(spark, nh, ndviRoot, ndviFn)
    SyntheticGrid.writeDirect(spark, qh, qaRoot, qaFn)
    Map("store_bytes" -> (Fs.bytes(dir.resolve("ndvi")) + Fs.bytes(dir.resolve("qa"))))
  }

  /** One deck at positions no measured query uses. */
  def warmup(spark: SparkSession): Unit =
    Kinds.indices.foreach(j => query(spark, new Tracer(spark), Kinds(j), rngFor(-1 - j)))

  private def rngFor(i: Int) = new scala.util.Random(seed * 1000003L + i)

  def op(spark: SparkSession, tr: Tracer, i: Int): Op = {
    val deck = new scala.util.Random(seed * 7919L + i / Kinds.size).shuffle(Kinds)
    query(spark, tr, deck(i % Kinds.size), rngFor(i))
  }

  /** Stop only after whole groups of `Decks` decks, so every run holds
    * the same mix. */
  override def boundary(i: Int): Boolean = i % (Decks * Kinds.size) == 0
  override def traceOps: Int = Kinds.size

  /** Chunks (frac x time slab) a pixel/time window intersects. */
  private def chunksHit(x0: Int, x1: Int, y0: Int, y1: Int, t0: Int, t1: Int): Long =
    ((x1 - 1) / nh.fracWidth - x0 / nh.fracWidth + 1).toLong *
      ((y1 - 1) / nh.fracHeight - y0 / nh.fracHeight + 1) *
      ((t1 - 1) / nh.fracNDates - t0 / nh.fracNDates + 1)

  /** A seeded position for a box of side `s`. */
  private def box(r: scala.util.Random, s: Int): (Int, Int, Int) =
    (r.nextInt(Side - s + 1), r.nextInt(Side - s + 1), s)

  private def query(spark: SparkSession, tr: Tracer, kind: String,
                    r: scala.util.Random): Op = kind match {
    case "point_series" =>
      val x = r.nextInt(Side); val y = r.nextInt(Side)
      val rows = tr.span("FractionStore.read") {
        FractionStore.loadSliceXY(spark, nh, ndviRoot, x, x + 1, y, y + 1, 0, NT)
          .select(col("t"), col("value")).collect()
      }
      Op(kind, () => {
        val got = rows.map(row => row.getInt(0) ->
          (if (row.isNullAt(1)) None else Some(row.getInt(1).toDouble))).toMap
        val want = (0 until NT).map(t => t -> Some(ndviFn(x, y, t)).filter(_ != Gen.NdviNodata)).toMap
        Outcome(NT, Map("chunks_hit" -> chunksHit(x, x + 1, y, y + 1, 0, NT)),
          if (got == want) None else Some(s"point_series ($x,$y): got $got want $want"))
      })

    case "box_stats" =>
      val (x0, y0, s) = box(r, BoxSide)
      val rows = tr.span("GridKernels") {
        GridKernels.boxStatsByT(spark, nh, ndviRoot, x0, x0 + s, y0, y0 + s, 0, NT).collect()
      }
      Op(kind, () => {
        val want = Oracle.boxStats(ndviFn, x0, x0 + s, y0, y0 + s, NT, Gen.NdviNodata)
        val bad = rows.toSeq.filterNot { row =>
          val (sum, nv, mn, mx) = want(row.getInt(0))
          row.getLong(2) == nv && row.getLong(3) == s.toLong * s &&
            close(opt(row, 1), if (nv > 0) Some(sum / nv) else None) &&
            (nv == 0 || (row.getDouble(4) == mn && row.getDouble(5) == mx))
        }
        Outcome(s.toDouble * s * NT, Map("chunks_hit" -> chunksHit(x0, x0 + s, y0, y0 + s, 0, NT),
          "kernel_px_dates" -> s.toLong * s * NT),
          if (rows.length == NT && bad.isEmpty) None
          else Some(s"box_stats ($x0,$y0,$s): ${rows.length} rows, wrong: ${bad.take(2).mkString("; ")}"))
      })

    case "masked_mean" =>
      val (x0, y0, s) = box(r, MaskedSide)
      val rows = tr.span("GridKernels") {
        GridKernels.maskedMeanByT(spark, (nh, ndviRoot), (qh, qaRoot),
          x0, x0 + s, y0, y0 + s, 0, NT).collect()
      }
      Op(kind, () => {
        val want = Oracle.maskedMean(ndviFn, qaFn, x0, x0 + s, y0, y0 + s, NT, Gen.NdviNodata)
        val bad = rows.toSeq.filterNot { row =>
          close(opt(row, 1), want(row.getInt(0))) && row.getLong(2) == s.toLong * s
        }
        Outcome(s.toDouble * s * NT,
          Map("chunks_hit" -> 2 * chunksHit(x0, x0 + s, y0, y0 + s, 0, NT),
            "kernel_px_dates" -> s.toLong * s * NT),
          if (rows.length == NT && bad.isEmpty) None
          else Some(s"masked_mean ($x0,$y0,$s): ${rows.length} rows, wrong: ${bad.take(2).mkString("; ")}"))
      })

    case "trend_map" | "cusum_map" =>
      val (x0, y0, s) = box(r, MapSide)
      val t0 = r.nextInt(NT / nh.fracNDates) * nh.fracNDates
      val t1 = t0 + nh.fracNDates
      val row = tr.span("GridKernels") {
        if (kind == "trend_map")
          GridKernels.trendSlopeByPixel(spark, nh, ndviRoot, x0, x0 + s, y0, y0 + s, t0, t1)
            .agg(count(lit(1)), sum(col("n")), sum(col("slope"))).head()
        else
          GridKernels.cusumByPixel(spark, nh, ndviRoot, x0, x0 + s, y0, y0 + s, t0, t1,
            t0 + 2, CusumSlack, CusumThreshold)
            .agg(count(lit(1)), sum(col("alarm").cast("long")), sum(col("cusum"))).head()
      }
      Op(kind, () => {
        val want =
          if (kind == "trend_map") Oracle.trend(ndviFn, x0, x0 + s, y0, y0 + s, t0, t1, Gen.NdviNodata)
          else Oracle.cusum(ndviFn, x0, x0 + s, y0, y0 + s, t0, t1, t0 + 2,
            CusumSlack, CusumThreshold, Gen.NdviNodata)
        val got = (row.getLong(0), row.getLong(1), opt(row, 2).getOrElse(0.0))
        Outcome(s.toDouble * s * (t1 - t0), Map("chunks_hit" -> chunksHit(x0, x0 + s, y0, y0 + s, t0, t1),
          "kernel_px_dates" -> s.toLong * s * (t1 - t0)),
          if (got._1 == want._1 && got._2 == want._2 &&
            math.abs(got._3 - want._3) <= 1e-6 + 1e-12 * math.abs(want._3)) None
          else Some(s"$kind ($x0,$y0,$s,t$t0): got $got want $want"))
      })

    case "latlng_box" =>
      val (x0, y0, s) = box(r, LatLngSide)
      val latHi = nh.xyToLatLng(x0, y0)._1
      val latLo = nh.xyToLatLng(x0, y0 + s)._1
      val yMid = nh.latLngToXY((latHi + latLo) / 2, 0)._2
      val (lngLo, lngHi) = (nh.xyToLatLng(x0, yMid)._2, nh.xyToLatLng(x0 + s, yMid)._2)
      val rows = tr.span("LatLngPruning") {
        LatLngPruning.withGeoColumns(nh, FractionStore.fractions(spark, ndviRoot))
          .filter(col("lat") >= latLo && col("lat") <= latHi &&
            col("lng") >= lngLo && col("lng") <= lngHi)
          .groupBy(col("t")).agg(count(lit(1)), count(col("value")), sum(col("value")))
          .collect()
      }
      Op(kind, () => {
        val inBox = Oracle.latLngPixels(nh, latLo, latHi, lngLo, lngHi)
        val (bx0, bx1, by0, by1) = Oracle.bbox(inBox)
        val want = (0 until NT).map { t =>
          val vs = inBox.map { case (x, y) => ndviFn(x, y, t) }.filter(_ != Gen.NdviNodata)
          t -> (inBox.size.toLong, vs.size.toLong, vs.map(_.toLong).sum)
        }.filter(_._2._1 > 0).toMap
        val got = rows.map(row => row.getInt(0) -> (row.getLong(1), row.getLong(2),
          if (row.isNullAt(3)) 0L else row.getLong(3))).toMap
        Outcome(inBox.size.toDouble * NT, Map("chunks_hit" -> chunksHit(bx0, bx1, by0, by1, 0, NT)),
          if (got == want) None
          else Some(s"latlng_box ($latLo..$latHi, $lngLo..$lngHi): got $got want $want"))
      })

    case "zonal_regions" =>
      val (boxDeg, nReg) = (ZonalDeg, ZonalRegions)
      val (cLat, cLng) = nh.xyToLatLng(Side / 2 + (r.nextDouble() - 0.5) * (Side - 600),
        Side / 2 + (r.nextDouble() - 0.5) * (Side - 600))
      val regions = (0 until nReg).map { k =>
        val la = cLat + (r.nextDouble() - 0.5) * boxDeg * 0.6
        val ln = cLng + (r.nextDouble() - 0.5) * boxDeg * 0.6
        val rad = boxDeg * (0.05 + 0.15 * r.nextDouble())
        val ring = (0 until 4).map { q =>
          val ang = math.Pi / 2 * q + (r.nextDouble() - 0.5) * 0.8
          val rr = rad * (0.6 + 0.4 * r.nextDouble())
          (la + rr * math.sin(ang), ln + rr * math.cos(ang))
        }.toArray
        (s"r$k", ring)
      }
      val rows = tr.span("GridZonal") {
        GridZonal.zonalByRegion(spark, nh, ndviRoot, regions, 0, NT).collect()
      }
      Op(kind, () => {
        val z = Oracle.zonal(nh, ndviFn, regions, NT, Gen.NdviNodata)
        val got = rows.map { row =>
          (row.getString(0), row.getInt(1)) -> (row.getLong(2), opt(row, 3), opt(row, 4), opt(row, 5))
        }.toMap
        val bad = z.stats.toSeq.filterNot { case (k, (n, sum, mn, mx)) =>
          got.get(k).exists { case (gn, gmean, gmn, gmx) =>
            gn == n && close(gmean, if (n > 0) Some(sum / n) else None) &&
              (n == 0 || (gmn.contains(mn) && gmx.contains(mx)))
          }
        }
        Outcome(z.bboxPx.toDouble * NT,
          Map("chunks_hit" -> chunksHit(z.x0, z.x1, z.y0, z.y1, 0, NT), "regions" -> nReg),
          if (bad.isEmpty && got.size == z.stats.size) None
          else Some(s"zonal_regions ($nReg regions): ${got.size} vs ${z.stats.size} groups, " +
            s"wrong: ${bad.take(2).mkString("; ")}"))
      })

    case "reproject_window" =>
      val (w, h) = (ReprojectSide, ReprojectSide)
      val tSrc = r.nextInt(NT)
      val (la, ln) = nh.xyToLatLng(300 + r.nextInt(Side - 1200), 300 + r.nextInt(Side - 1200))
      val (dx, dy) = wgs.latLngToXY(la, ln)
      val (x0, y0) = (dx.toInt, dy.toInt)
      val row = tr.span("Reproject") {
        Reproject.bilinearGather(spark, nh, ndviRoot, wgs, x0, x0 + w, y0, y0 + h, tSrc)
          .agg(count(lit(1)), count(col("value")), sum(col("n_valid")), sum(col("value"))).head()
      }
      Op(kind, () => {
        val rp = Oracle.bilinear(nh, ndviFn, wgs, x0, x0 + w, y0, y0 + h, tSrc, Gen.NdviNodata)
        val got = (row.getLong(0), row.getLong(1), row.getLong(2), opt(row, 3).getOrElse(0.0))
        val ok = got._1 == w.toLong * h && got._2 == rp.nValue && got._3 == rp.nTapValues &&
          math.abs(got._4 - rp.sum) <= 1e-9 * math.max(1.0, math.abs(rp.sum))
        Outcome(rp.srcPx.toDouble,
          Map("chunks_hit" -> chunksHit(rp.sx0, rp.sx1, rp.sy0, rp.sy1, tSrc, tSrc + 1),
            "dst_px" -> w * h),
          if (ok) None else Some(s"reproject_window ($x0,$y0,${w}x$h,t$tSrc): got $got want " +
            s"(${w * h}, ${rp.nValue}, ${rp.nTapValues}, ${rp.sum})"))
      })
  }

  private def opt(row: org.apache.spark.sql.Row, i: Int): Option[Double] =
    if (row.isNullAt(i)) None else Some(row.getAs[Any](i) match {
      case n: java.lang.Number => n.doubleValue()
      case other => other.toString.toDouble
    })

  private def close(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case (None, None) => true
    case _ => false
  }
}

object TileQuery {
  val Side = 1600
  val Dates: Seq[Long] = (0 until 8).map(i => 951350400000L + i * 16L * 86400000L)
  val NT: Int = Dates.size
  val WgsRes = 0.004
  val CusumSlack = 100.0
  val CusumThreshold = 300.0
  // Sizes are fixed per type (1 px up to 1200^2 px x 8 dates) so every
  // run does the same work; the seed moves positions, slabs, dates and
  // region shapes.
  val BoxSide = 1200
  val MaskedSide = 600
  val MapSide = 500
  val LatLngSide = 150
  val ZonalDeg = 0.5
  val ZonalRegions = 8
  val ReprojectSide = 200
  /** Decks the loop runs between stopping points. */
  val Decks = 2
  /** One deck: every query type once. */
  val Kinds: Vector[String] = Vector("point_series", "box_stats", "masked_mean", "trend_map",
    "cusum_map", "latlng_box", "zonal_regions", "reproject_window")
}
