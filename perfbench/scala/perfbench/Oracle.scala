package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.grid.GridHeader
import graft.grid.SyntheticGrid.PixelFn

/** Driver-side recomputation of every query from the seeded value
  * functions: plain loops, run after the clock stops. Arithmetic
  * follows each operator's documented formula step for step, so
  * counts compare exactly and sums to rounding. */
object Oracle {

  private def halfUp(v: Double, digits: Int): Double =
    java.math.BigDecimal.valueOf(v).setScale(digits, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Per date: (sum, n_valid, min, max) of valid values over a box. */
  def boxStats(fn: PixelFn, x0: Int, x1: Int, y0: Int, y1: Int, nt: Int,
               nodata: Double): Map[Int, (Double, Long, Double, Double)] =
    (0 until nt).map { t =>
      var sum = 0.0; var n = 0L
      var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
      for (y <- y0 until y1; x <- x0 until x1) {
        val v = fn(x, y, t)
        if (v != nodata) { sum += v; n += 1; mn = math.min(mn, v); mx = math.max(mx, v) }
      }
      t -> (sum, n, mn, mx)
    }.toMap

  /** Per date: mean of valid values whose QA word is clear. */
  def maskedMean(fn: PixelFn, qa: PixelFn, x0: Int, x1: Int, y0: Int, y1: Int, nt: Int,
                 nodata: Double): Map[Int, Option[Double]] =
    (0 until nt).map { t =>
      var sum = 0.0; var n = 0L
      for (y <- y0 until y1; x <- x0 until x1) {
        val v = fn(x, y, t)
        if (Gen.qaIsClear(qa(x, y, t)) && v != nodata) { sum += v; n += 1 }
      }
      t -> (if (n > 0) Some(sum / n) else None)
    }.toMap

  /** (pixels with a valid date, sum of their n, sum of OLS slopes
    * rounded half-up to 6 digits). */
  def trend(fn: PixelFn, x0: Int, x1: Int, y0: Int, y1: Int, t0: Int, t1: Int,
            nodata: Double): (Long, Long, Double) = {
    var px = 0L; var sumN = 0L; var sumSlope = 0.0
    for (y <- y0 until y1; x <- x0 until x1) {
      var n = 0L; var st = 0.0; var sv = 0.0; var stv = 0.0; var stt = 0.0
      for (t <- t0 until t1) {
        val v = fn(x, y, t)
        if (v != nodata) { n += 1; st += t; sv += v; stv += t * v; stt += t.toDouble * t }
      }
      if (n > 0) {
        val det = n * stt - st * st
        px += 1; sumN += n
        sumSlope += (if (det > 0) halfUp((n * stv - st * sv) / det, 6) else 0.0)
      }
    }
    (px, sumN, sumSlope)
  }

  /** One-sided CUSUM over monitoring dates [trainT, t1) against the mean
    * of valid training dates [t0, trainT): (rows, alarms, sum of cusum
    * rounded half-up to 4 digits). */
  def cusum(fn: PixelFn, x0: Int, x1: Int, y0: Int, y1: Int, t0: Int, t1: Int, trainT: Int,
            slack: Double, threshold: Double, nodata: Double): (Long, Long, Double) = {
    val slackMicro = math.rint(slack * 1e6)
    val hMicro = math.rint(threshold * 1e6)
    var rows = 0L; var alarms = 0L; var sumC = 0.0
    for (y <- y0 until y1; x <- x0 until x1) {
      var n = 0L; var sm = 0.0
      for (t <- t0 until trainT) { val v = fn(x, y, t); if (v != nodata) { n += 1; sm += v } }
      if (n > 0) {
        var r = 0.0; var mn = 0.0
        for (t <- trainT until t1) {
          val v = fn(x, y, t)
          if (v != nodata) {
            r += (sm - n * v) * 1e6 - n * slackMicro
            if (r < mn) mn = r
            rows += 1
            sumC += halfUp((r - mn) / (n * 1e6), 4)
            if (r - mn > n * hMicro) alarms += 1
          }
        }
      }
    }
    (rows, alarms, sumC)
  }

  /** Alarm pixels of a CUSUM whose only monitoring date is `tNew`,
    * trained on the valid dates in [t0, tNew). */
  def alarmPixels(fn: PixelFn, w: Int, h: Int, t0: Int, tNew: Int, slack: Double,
                  threshold: Double, nodata: Double): Set[(Int, Int)] = {
    val slackMicro = math.rint(slack * 1e6)
    val hMicro = math.rint(threshold * 1e6)
    val out = Set.newBuilder[(Int, Int)]
    for (y <- 0 until h; x <- 0 until w) {
      var n = 0L; var sm = 0.0
      for (t <- t0 until tNew) { val v = fn(x, y, t); if (v != nodata) { n += 1; sm += v } }
      val v = fn(x, y, tNew)
      if (n > 0 && v != nodata) {
        val r = (sm - n * v) * 1e6 - n * slackMicro
        if (math.max(r, 0.0) > n * hMicro) out += ((x, y))
      }
    }
    out.result()
  }

  /** 4-connected components of a pixel set: (pixels, x_min, x_max,
    * y_min, y_max) each. */
  def patches(px: Set[(Int, Int)]): Seq[(Long, Int, Int, Int, Int)] = {
    val seen = scala.collection.mutable.Set.empty[(Int, Int)]
    px.toSeq.flatMap { p =>
      if (!seen.add(p)) None
      else {
        var (n, x0, x1, y0, y1) = (0L, p._1, p._1, p._2, p._2)
        val stack = scala.collection.mutable.Stack(p)
        while (stack.nonEmpty) {
          val (x, y) = stack.pop()
          n += 1; x0 = math.min(x0, x); x1 = math.max(x1, x); y0 = math.min(y0, y); y1 = math.max(y1, y)
          for (q <- Seq((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)) if px(q) && seen.add(q))
            stack.push(q)
        }
        Some((n, x0, x1, y0, y1))
      }
    }
  }

  /** 3x3 focal mean over valid in-bounds neighbours of date t:
    * (pixels, sum of valid-neighbour counts, sum of neighbourhood means). */
  def focal(fn: PixelFn, w: Int, h: Int, t: Int, nodata: Double): (Long, Long, Double) = {
    val plane = Array.tabulate(h, w)((y, x) => fn(x, y, t))
    var nSum = 0L; var meanSum = 0.0
    for (y <- 0 until h; x <- 0 until w) {
      var n = 0L; var s = 0.0
      for (dy <- -1 to 1; dx <- -1 to 1) {
        val (xx, yy) = (x + dx, y + dy)
        if (xx >= 0 && xx < w && yy >= 0 && yy < h && plane(yy)(xx) != nodata) {
          n += 1; s += plane(yy)(xx)
        }
      }
      nSum += n
      if (n > 0) meanSum += s / n
    }
    (w.toLong * h, nSum, meanSum)
  }

  /** Pixels whose centre's lat/lng falls in the box, computed with the
    * pixel-view formula (sinusoidal inverse at the pixel centre). */
  def latLngPixels(h: GridHeader, latLo: Double, latHi: Double,
                   lngLo: Double, lngHi: Double): Seq[(Int, Int)] = {
    val g = h.geot
    val r = graft.grid.GeoTransform.SinusoidalRadius
    for {
      y <- 0 until h.height
      gy = g(3) + (y + 0.5) * g(5)
      lat = math.toDegrees(gy / r)
      if lat >= latLo && lat <= latHi
      x <- 0 until h.width
      gx = g(0) + (x + 0.5) * g(1)
      lng = math.toDegrees(gx / (r * math.cos(gy / r)))
      if lng >= lngLo && lng <= lngHi
    } yield (x, y)
  }

  /** Half-open bounding box (x0, x1, y0, y1) of a pixel set. */
  def bbox(px: Seq[(Int, Int)]): (Int, Int, Int, Int) =
    if (px.isEmpty) (0, 1, 0, 1)
    else (px.map(_._1).min, px.map(_._1).max + 1, px.map(_._2).min, px.map(_._2).max + 1)

  /** Even-odd ray cast. */
  def contains(xs: Array[Double], ys: Array[Double], px: Double, py: Double): Boolean = {
    var inside = false
    var j = xs.length - 1
    for (i <- xs.indices) {
      if ((ys(i) > py) != (ys(j) > py) &&
        px < (xs(j) - xs(i)) * (py - ys(i)) / (ys(j) - ys(i)) + xs(i)) inside = !inside
      j = i
    }
    inside
  }

  final case class Zonal(stats: Map[(String, Int), (Long, Double, Double, Double)],
                         x0: Int, x1: Int, y0: Int, y1: Int) {
    def bboxPx: Long = (x1 - x0).toLong * (y1 - y0)
  }

  /** Per (region, date): (n_valid, sum, min, max) over pixels whose
    * centre is inside the region; the scanned window is the union bbox. */
  def zonal(h: GridHeader, fn: PixelFn, regions: Seq[(String, Array[(Double, Double)])],
            nt: Int, nodata: Double): Zonal = {
    val polys = regions.map { case (name, ring) =>
      val xy = ring.map { case (la, ln) => h.latLngToXY(la, ln) }
      (name, xy.map(_._1), xy.map(_._2))
    }
    val xs = polys.flatMap(_._2); val ys = polys.flatMap(_._3)
    val x0 = math.min(h.width, math.max(0, xs.min.floor.toInt))
    val x1 = math.max(x0, math.min(h.width, xs.max.ceil.toInt))
    val y0 = math.min(h.height, math.max(0, ys.min.floor.toInt))
    val y1 = math.max(y0, math.min(h.height, ys.max.ceil.toInt))
    val acc = scala.collection.mutable.Map.empty[(String, Int), (Long, Double, Double, Double)]
    for (y <- y0 until y1; x <- x0 until x1) {
      val in = polys.filter { case (_, px, py) => contains(px, py, x + 0.5, y + 0.5) }.map(_._1)
      for (name <- in; t <- 0 until nt) {
        val (n, s, mn, mx) = acc.getOrElse((name, t),
          (0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity))
        val v = fn(x, y, t)
        acc((name, t)) =
          if (v == nodata) (n, s, mn, mx) else (n + 1, s + v, math.min(mn, v), math.max(mx, v))
      }
    }
    Zonal(acc.toMap, x0, x1, y0, y1)
  }

  final case class Bilinear(nValue: Long, nTapValues: Long, sum: Double,
                            sx0: Int, sx1: Int, sy0: Int, sy1: Int) {
    def srcPx: Long = (sx1 - sx0).toLong * (sy1 - sy0)
  }

  /** Bilinear warp of a sinusoidal source onto a WGS84 window: each dst
    * pixel centre maps to source pixel coordinates, four taps anchor at
    * floor(s - 0.5), and valid taps blend by normalised weight. */
  def bilinear(src: GridHeader, fn: PixelFn, dst: GridHeader,
               x0: Int, x1: Int, y0: Int, y1: Int, t: Int, nodata: Double): Bilinear = {
    val r = graft.grid.GeoTransform.SinusoidalRadius
    val (sg, dg) = (src.geot, dst.geot)
    var nValue = 0L; var nTapValues = 0L; var taps = 0L; var sum = 0.0
    var (bx0, bx1, by0, by1) = (Int.MaxValue, Int.MinValue, Int.MaxValue, Int.MinValue)
    for (y <- y0 until y1; x <- x0 until x1) {
      val lng = dg(0) + (x.toDouble + 0.5) * dg(1)
      val lat = dg(3) + (y.toDouble + 0.5) * dg(5)
      val sx = (r * math.toRadians(lng) * math.cos(math.toRadians(lat)) - sg(0)) / sg(1)
      val sy = (r * math.toRadians(lat) - sg(3)) / sg(5)
      val cx = sx - 0.5; val cy = sy - 0.5
      val (fx, fy) = (cx - math.floor(cx), cy - math.floor(cy))
      var wsum = 0.0; var vsum = 0.0; var nv = 0L
      for (dy <- 0 to 1; dx <- 0 to 1) {
        val tx = math.floor(cx).toInt + dx; val ty = math.floor(cy).toInt + dy
        if (tx >= 0 && tx < src.width && ty >= 0 && ty < src.height) {
          taps += 1
          bx0 = math.min(bx0, tx); bx1 = math.max(bx1, tx + 1)
          by0 = math.min(by0, ty); by1 = math.max(by1, ty + 1)
          val wgt = (if (dx == 0) 1.0 - fx else fx) * (if (dy == 0) 1.0 - fy else fy)
          val v = fn(tx, ty, t)
          if (v != nodata) { wsum += wgt; vsum += wgt * v; nv += 1 }
        }
      }
      nTapValues += nv
      if (nv > 0) { nValue += 1; sum += vsum / wsum }
    }
    if (taps == 0) { bx0 = 0; bx1 = 1; by0 = 0; by1 = 1 }
    Bilinear(nValue, nTapValues, sum, bx0, bx1, by0, by1)
  }
}

object Fs {
  /** Bytes of every regular file under `p`. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).map(Files.size(_)).sum
      finally s.close()
    }

  /** Parquet data files under `p` (checksums and markers excluded). */
  def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }

  def files(p: Path): Long = parquetFiles(p).size.toLong
}
