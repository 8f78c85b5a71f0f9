package graft.grid

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** A halo strip: the sliver of a source chunk that a NEIGHBORING chunk
  * needs to compute focal windows over its own border pixels. Keyed by
  * the TARGET chunk; `data` stays packed in the grid's native dtype
  * (sliced straight out of the source payload — never decoded on the
  * emit side).
  */
final case class HaloStrip(
    frac_x: Int, frac_y: Int, time_chunk: Int,
    sx0: Int, sy0: Int, t0: Int, sw: Int, sh: Int, nd: Int,
    data: Array[Byte])

/** Per-pixel focal (neighborhood) statistics output. */
final case class FocalPixel(
    x: Int, y: Int, t: Int, n_valid: Long,
    mean_nbr: Option[Double], min_nbr: Option[Double],
    max_nbr: Option[Double])

/** Focal (moving-window neighborhood) operators over the fraction
  * store — the raster-algebra "focal mean" / smoothing pass, weighted
  * convolution and Horn terrain products the reference leaves to numpy
  * post-processing on collected slices
  * (doc/notebooks/ndvi_anomaly.ipynb-style array ops), here as one
  * distributed operator each.
  *
  * Scale design (the 100 TB shape): a focal window only crosses chunk
  * borders by `radius` pixels, so every operator runs ONE halo exchange
  * at chunk granularity ([[haloExchange]]) instead of a pixel-level
  * 9-way self-join:
  *
  *  - every chunk emits up to 8 boundary strips (≤ radius wide, sliced
  *    byte-for-byte from the packed payload — no decode, native dtype)
  *    keyed to the neighbor that needs them. Halo bytes are
  *    perimeter-sized: ~ 4·r·(w+h)/(w·h) of the data (≈ 8 % at 50×50
  *    chunks, r=1) — vs the naive pixel-view offset-explode join, which
  *    shuffles (2r+1)² = 9× the FULL cube;
  *  - the strips aggregate (`collect_list`) to one row per TARGET
  *    (frac_num, time_chunk) and LEFT-join the chunk rows. While the
  *    gathered strips fit the broadcast threshold the join broadcasts
  *    them and the chunk payloads never move; past it the join is a
  *    sort-merge join that shuffles the chunk rows once — except over a
  *    table bucketed on (frac_num, time_chunk)
  *    ([[FractionStore.writeBucketed]], [[focalStatsBucketed]]), whose
  *    scan already has the join's partitioning, so only the strips move
  *    (FocalBucketedSpec pins zero Exchange under the chunk scan);
  *  - each joined row decodes its core payload and its strips once,
  *    builds a NaN-padded plane per in-range date and hands it to the
  *    operator's stencil — per-chunk imperative logic, the flatMap
  *    niche. Each stencil keeps its own statement-form per-pixel loops;
  *    the exchange calls it once per (chunk, date), never per pixel;
  *  - absent neighbors (sparse store, or beyond the grid edge) simply
  *    contribute no strip: their pixels count as invalid, the same
  *    nodata semantics the pixel view gives absent chunks.
  *
  * [[focalStats]] emits one row per pixel of every PRESENT chunk,
  * valid-neighbor count and mean/min/max over the valid pixels of the
  * in-bounds (2r+1)×(2r+1) window (center included). Integer-valued
  * doubles sum exactly in any order, so `mean_nbr` is
  * engine-reproducible (sum/count, one double divide).
  */
object GridFocal {

  /** Halo-exchange focal stats over dates [tFrom, tTo).
    * `maskNodata=true` excludes the header's nodata from window stats
    * (they still get their own output row, possibly with n_valid = 0).
    */
  def focalStats(spark: SparkSession, header: GridHeader, root: String,
                 radius: Int, tFrom: Int, tTo: Int,
                 maskNodata: Boolean = true): DataFrame = {
    val fracs = FractionStore.fractionsForWindow(spark, header, root,
      0, header.width, 0, header.height, tFrom, tTo)
    focalStatsOnChunks(spark, header, fracs, radius, tFrom, tTo, maskNodata)
  }

  /** Same, over an explicit chunk DataFrame (fraction-row schema). */
  def focalStatsOnChunks(spark: SparkSession, header: GridHeader,
                         fracRows: DataFrame, radius: Int,
                         tFrom: Int, tTo: Int,
                         maskNodata: Boolean): DataFrame = {
    import spark.implicits._
    val r = radius
    val nodata = if (maskNodata) header.nodata else Double.NaN
    haloExchange[FocalPixel](header, fracRows, r, nodata, tFrom,
        tTo) { (c, t, plane) =>
      val pw = c.w + 2 * r
      val out =
        new scala.collection.mutable.ArrayBuffer[FocalPixel](c.w * c.h)
      var yy = 0
      while (yy < c.h) {
        var xx = 0
        while (xx < c.w) {
          var cnt = 0L; var sum = 0.0
          var mn = Double.MaxValue; var mx = Double.MinValue
          var wy = yy
          while (wy <= yy + 2 * r) {
            var wx = xx
            while (wx <= xx + 2 * r) {
              val v = plane(wy * pw + wx)
              if (!v.isNaN) {
                cnt += 1; sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
              }
              wx += 1
            }
            wy += 1
          }
          out += (if (cnt > 0)
            FocalPixel(c.x0 + xx, c.y0 + yy, t, cnt,
              Some(sum / cnt), Some(mn), Some(mx))
          else
            FocalPixel(c.x0 + xx, c.y0 + yy, t, 0L,
              None, None, None))
          xx += 1
        }
        yy += 1
      }
      out.iterator
    }.toDF()
  }

  /** Focal stats over a BUCKETED chunk table (written by
    * [[FractionStore.writeBucketed]] on (frac_num, time_chunk)): the
    * same halo exchange as [[focalStats]], whose join keys match the
    * bucketing, so the chunk payloads never move — the 100 TB shape for
    * repeated focal passes over a standing worldgrid.
    */
  def focalStatsBucketed(spark: SparkSession, header: GridHeader,
                         table: String, radius: Int, tFrom: Int, tTo: Int,
                         maskNodata: Boolean = true): DataFrame =
    focalStatsOnChunks(spark, header, spark.table(table), radius, tFrom, tTo,
      maskNodata)

  private val chunkCols = Seq("frac_num", "time_chunk", "frac_x", "frac_y",
    "x0", "y0", "t0", "w", "h", "nd", "data")

  /** The one halo exchange every focal operator runs: strips built once
    * and gathered to their target (frac_num, time_chunk), left-joined to
    * the chunk rows (`fracRows`, fraction-row schema), core payload and
    * strips decoded once per joined row, then `kernel` called once per
    * (chunk, date in [tFrom, tTo)) with the chunk, the date and its
    * NaN-padded (w+2r)×(h+2r) plane ([[paddedPlane]]). `nodata` is the
    * value masked to NaN (NaN masks nothing). */
  private def haloExchange[T: Encoder](header: GridHeader, fracRows: DataFrame,
                                       r: Int, nodata: Double,
                                       tFrom: Int, tTo: Int)(
      kernel: (FracRowBytes, Int, Array[Double]) => Iterator[T]): Dataset[T] = {
    require(r >= 1 && r <= math.min(header.fracWidth, header.fracHeight),
      s"radius must be in [1, min(fracWidth, fracHeight)], got $r")
    val spark = fracRows.sparkSession
    import spark.implicits._
    val g = header.chunkGrid
    val code = PayloadCodec.code(header.dtype)
    val chunks = fracRows.select(chunkCols.map(col): _*)
    val strips = haloStrips(chunks.as[FracRowBytes], g, r,
        PayloadCodec.bytesPerElem(code))
      .select((col("frac_y") * lit(g.numFracsX) + col("frac_x")).as("frac_num"),
        col("time_chunk"), struct(col("*")).as("s"))
      .groupBy(col("frac_num"), col("time_chunk"))
      .agg(collect_list(col("s")).as("strips"))
    chunks.join(strips, Seq("frac_num", "time_chunk"), "left")
      .select(struct(chunkCols.map(col): _*).as("c"), col("strips"))
      .as[(FracRowBytes, Option[Seq[HaloStrip]])]
      .flatMap { case (c, stripsOpt) =>
        val core = PayloadCodec.decodeDouble(c.data, code)
        val halos = stripsOpt.getOrElse(Nil).map(s =>
          (s, PayloadCodec.decodeDouble(s.data, code))).toArray
        Iterator.range(math.max(tFrom, c.t0), math.min(tTo, c.t0 + c.nd))
          .flatMap(t =>
            kernel(c, t, paddedPlane(c, t, core, halos, r, nodata)))
      }
  }

  /** Emit each chunk's boundary strips to its 8 neighbors — pure byte
    * slicing of the packed C-order [y][x][t] payload (a row segment of
    * nd elements per (y, x) is contiguous; no decode on the emit side). */
  private def haloStrips(chunks: Dataset[FracRowBytes], g: ChunkGrid, r: Int,
                         bpe: Int): Dataset[HaloStrip] = {
    import chunks.sparkSession.implicits._
    chunks.flatMap { c =>
      def slice(xa: Int, xb: Int, ya: Int, yb: Int): Array[Byte] = {
        val rowLen = (xb - xa) * c.nd * bpe
        val out = new Array[Byte](rowLen * (yb - ya))
        var yy = ya
        while (yy < yb) {
          System.arraycopy(c.data, ((yy * c.w + xa) * c.nd) * bpe,
            out, (yy - ya) * rowLen, rowLen)
          yy += 1
        }
        out
      }
      for {
        dy <- -1 to 1
        dx <- -1 to 1
        if !(dx == 0 && dy == 0)
        nfx = c.frac_x + dx
        nfy = c.frac_y + dy
        if nfx >= 0 && nfx < g.numFracsX && nfy >= 0 && nfy < g.numFracsY
      } yield {
        // the part of THIS chunk within `r` of the border shared with
        // the (dx, dy) neighbor (in this chunk's local coordinates)
        val xa = if (dx > 0) math.max(0, c.w - r) else 0
        val xb = if (dx < 0) math.min(r, c.w) else c.w
        val ya = if (dy > 0) math.max(0, c.h - r) else 0
        val yb = if (dy < 0) math.min(r, c.h) else c.h
        HaloStrip(nfx, nfy, c.time_chunk,
          c.x0 + xa, c.y0 + ya, c.t0, xb - xa, yb - ya, c.nd,
          slice(xa, xb, ya, yb))
      }
    }
  }

  /** Assemble the NaN-padded (w+2r)×(h+2r) plane for date `t`: core
    * values in the middle, halo strips in the ring, NaN = absent /
    * out-of-grid / nodata-masked. */
  private def paddedPlane(c: FracRowBytes, t: Int, core: Array[Double],
                          halos: Array[(HaloStrip, Array[Double])],
                          r: Int, nodata: Double): Array[Double] = {
    val ti = t - c.t0
    val pw = c.w + 2 * r
    val plane = Array.fill(pw * (c.h + 2 * r))(Double.NaN)
    var i = 0
    val n = c.w * c.h
    while (i < n) {
      val v = core(i * c.nd + ti)
      if (!(v == nodata))
        plane(((i / c.w) + r) * pw + (i % c.w) + r) = v
      i += 1
    }
    halos.foreach { case (s, sv) =>
      val sti = t - s.t0
      if (sti >= 0 && sti < s.nd) {
        var j = 0
        val m = s.sw * s.sh
        while (j < m) {
          val v = sv(j * s.nd + sti)
          if (!(v == nodata)) {
            val px = s.sx0 + (j % s.sw) - c.x0 + r
            val py = s.sy0 + (j / s.sw) - c.y0 + r
            plane(py * pw + px) = v
          }
          j += 1
        }
      }
    }
    plane
  }

  /** Weighted focal convolution over the same halo-exchange machinery —
    * raster kernels (binomial/Gaussian smoothing, Sobel gradients) as a
    * distributed pass. `kernel` is (2r+1) rows × (2r+1) columns, row-
    * major over (dy, dx); radius is derived from it.
    *
    *  - `renormalize = true` (smoothing kernels): output =
    *    Σ(w·v over VALID in-bounds cells) / Σ(w over those cells); NULL
    *    when the valid weight sum is 0 — edge and nodata-adjacent
    *    pixels renormalize instead of darkening (the standard
    *    nodata-aware smoothing rule);
    *  - `renormalize = false` (derivative kernels): output = Σ w·v only
    *    when ALL (2r+1)² cells are valid and in-bounds, else NULL — a
    *    gradient over a partial window is not a gradient.
    *
    * The accumulation runs in fixed (dy, dx) order; with integer-valued
    * grids and integer kernel weights every product is an exact
    * integer-valued double, so results are engine-exact in any order —
    * the form the DuckDB oracle replays.
    */
  def focalConvolve(spark: SparkSession, header: GridHeader, root: String,
                    kernel: Seq[Seq[Double]], tFrom: Int, tTo: Int,
                    renormalize: Boolean = true,
                    maskNodata: Boolean = true): DataFrame = {
    import spark.implicits._
    val kh = kernel.length
    require(kh >= 3 && kh % 2 == 1 && kernel.forall(_.length == kh),
      s"kernel must be odd square >= 3x3, got ${kernel.map(_.length)}")
    val r = kh / 2
    val kFlat = kernel.flatten.toArray
    val nodata = if (maskNodata) header.nodata else Double.NaN
    val fracRows = FractionStore.fractionsForWindow(spark, header, root,
      0, header.width, 0, header.height, tFrom, tTo)
    haloExchange[(Int, Int, Int, Option[Double])](header, fracRows, r, nodata,
        tFrom, tTo) { (c, t, plane) =>
      val pw = c.w + 2 * r
      val out = new scala.collection.mutable.ArrayBuffer[
        (Int, Int, Int, Option[Double])](c.w * c.h)
      var yy = 0
      while (yy < c.h) {
        var xx = 0
        while (xx < c.w) {
          var num = 0.0; var den = 0.0
          var all = true
          var ki = 0
          var wy = yy
          while (wy <= yy + 2 * r) {
            var wx = xx
            while (wx <= xx + 2 * r) {
              val v = plane(wy * pw + wx)
              if (!v.isNaN) {
                num += kFlat(ki) * v; den += kFlat(ki)
              } else all = false
              ki += 1
              wx += 1
            }
            wy += 1
          }
          val res =
            if (renormalize) { if (den != 0.0) Some(num / den) else None }
            else if (all) Some(num)
            else None
          out += ((c.x0 + xx, c.y0 + yy, t, res))
          xx += 1
        }
        yy += 1
      }
      out.iterator
    }.toDF("x", "y", "t", "conv")
  }

  /** Horn-method terrain derivatives — slope / aspect / hillshade, the
    * classic DEM raster products — over the same halo-exchange
    * machinery as [[focalStats]] (the reference leaves raster algebra
    * of this kind to numpy on collected slices; here it is one
    * distributed pass).
    *
    * Per pixel, the 3x3 Horn gradients over cell sizes (gx, gy) from
    * the header geotransform:
    *
    *   dz/dx = ((c + 2f + i) - (a + 2d + g)) * zFactor / (8 gx)
    *   dz/dy = ((g + 2h + i) - (a + 2b + c)) * zFactor / (8 gy)
    *
    * then the standard products: slope_deg = atan(|grad|) in degrees;
    * aspect_deg in the ESRI compass convention (0 = north, clockwise);
    * hillshade = 255 (cos z cos s + sin z sin s cos(az - asp)) at the
    * given sun azimuth/altitude, clamped at 0 (not byte-quantized, so
    * the arithmetic chain stays replayable). Pixels whose 3x3 window
    * has ANY invalid cell are omitted — a gradient over a partial
    * window is not a gradient (the [[focalConvolve]] derivative rule).
    *
    * Degrees are produced by multiplying with an explicit 180/pi
    * constant (not an engine `degrees()` whose association may differ
    * in the last ulp), and outputs round to `roundTo` — the chain a
    * DuckDB oracle replays within float-canonicalization tolerance.
    */
  def focalTerrain(spark: SparkSession, header: GridHeader, root: String,
                   tFrom: Int, tTo: Int, zFactor: Double = 1.0,
                   azimuthDeg: Double = 315.0, altitudeDeg: Double = 45.0,
                   roundTo: Int = 3): DataFrame = {
    import spark.implicits._
    val gx = header.geot(1)
    val gy = math.abs(header.geot(5))
    val hx = 8.0 * gx
    val hy = 8.0 * gy
    val zen = (90.0 - altitudeDeg) * (math.Pi / 180.0)
    val azMath = ((360.0 - azimuthDeg + 90.0) % 360.0) * (math.Pi / 180.0)
    val cosZen = math.cos(zen)
    val sinZen = math.sin(zen)
    val zf = zFactor
    val degPerRad = 180.0 / math.Pi
    val fracRows = FractionStore.fractionsForWindow(spark, header, root,
      0, header.width, 0, header.height, tFrom, tTo)
    val rnd = math.pow(10.0, roundTo)
    haloExchange[(Int, Int, Int, Double, Double, Double)](header, fracRows,
        1, header.nodata, tFrom, tTo) { (c, t, plane) =>
      val pw = c.w + 2
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Int, Int, Double, Double, Double)]
      var yy = 0
      while (yy < c.h) {
        var xx = 0
        while (xx < c.w) {
          val va = plane(yy * pw + xx)
          val vb = plane(yy * pw + xx + 1)
          val vc = plane(yy * pw + xx + 2)
          val vd = plane((yy + 1) * pw + xx)
          val vf = plane((yy + 1) * pw + xx + 2)
          val vg = plane((yy + 2) * pw + xx)
          val vh = plane((yy + 2) * pw + xx + 1)
          val vi = plane((yy + 2) * pw + xx + 2)
          val ve = plane((yy + 1) * pw + xx + 1)
          if (!va.isNaN && !vb.isNaN && !vc.isNaN && !vd.isNaN &&
              !ve.isNaN && !vf.isNaN && !vg.isNaN && !vh.isNaN &&
              !vi.isNaN) {
            val dzdx = ((vc + 2 * vf + vi) - (va + 2 * vd + vg)) *
              zf / hx
            val dzdy = ((vg + 2 * vh + vi) - (va + 2 * vb + vc)) *
              zf / hy
            val srad = math.atan(
              math.sqrt(dzdx * dzdx + dzdy * dzdy))
            val arad0 = math.atan2(dzdy, -dzdx)
            val adeg0 = arad0 * degPerRad
            // ESRI aspect rule: two cases, not three — the
            // adeg0 < 0 input already lands in [90, 360) via
            // the same 90 - adeg0 formula
            val aspect =
              if (adeg0 > 90.0) 450.0 - adeg0
              else 90.0 - adeg0
            val arad = if (arad0 < 0) arad0 + 2.0 * math.Pi
              else arad0
            val lum = cosZen * math.cos(srad) +
              sinZen * math.sin(srad) * math.cos(azMath - arad)
            val hs = if (lum < 0) 0.0 else 255.0 * lum
            // half-up rounding (all three outputs are >= 0):
            // the same boundary rule as Spark's / DuckDB's
            // round(), unlike rint's half-even
            out += ((c.x0 + xx, c.y0 + yy, t,
              math.floor(srad * degPerRad * rnd + 0.5) / rnd,
              math.floor(aspect * rnd + 0.5) / rnd,
              math.floor(hs * rnd + 0.5) / rnd))
          }
          xx += 1
        }
        yy += 1
      }
      out.iterator
    }.toDF("x", "y", "t", "slope_deg", "aspect_deg", "hillshade")
  }

  /** The declarative baseline: pixel-view offset-explode self-
    * aggregation. Correct and pure-Catalyst, but every pixel rides the
    * shuffle (2r+1)² times — the differential-test twin and the bench
    * A/B loser, kept as the semantics definition.
    *
    * Emits centers for pixels of present chunks only (semi-join on the
    * pixel keys), matching [[focalStats]].
    */
  def focalStatsNaive(spark: SparkSession, header: GridHeader, root: String,
                      radius: Int, tFrom: Int, tTo: Int,
                      maskNodata: Boolean = true): DataFrame = {
    val fracs = FractionStore.fractionsForWindow(spark, header, root,
      0, header.width, 0, header.height, tFrom, tTo)
    val px = FractionStore.pixels(header, fracs, maskNodata)
      .filter(col("t") >= tFrom && col("t") < tTo)
    val offs = (-radius to radius).flatMap(dy =>
      (-radius to radius).map(dx => (dx, dy)))
    val contrib = px
      .select(col("x"), col("y"), col("t"), col("value"),
        explode(array(offs.map { case (dx, dy) =>
          struct(lit(dx).as("dx"), lit(dy).as("dy"))
        }: _*)).as("o"))
      .select((col("x") + col("o.dx")).as("cx"),
        (col("y") + col("o.dy")).as("cy"), col("t"), col("value"))
      .filter(col("cx").between(0, header.width - 1) &&
        col("cy").between(0, header.height - 1))
    val stats = contrib.groupBy(col("cx").as("x"), col("cy").as("y"), col("t"))
      .agg(count(col("value")).as("n_valid"),
        (sum(col("value").cast("double")) / count(col("value"))).as("mean_nbr"),
        min(col("value")).cast("double").as("min_nbr"),
        max(col("value")).cast("double").as("max_nbr"))
    stats.join(px.select("x", "y", "t").distinct(), Seq("x", "y", "t"),
        "left_semi")
      .select("x", "y", "t", "n_valid", "mean_nbr", "min_nbr", "max_nbr")
  }
}
