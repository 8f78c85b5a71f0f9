package perfbench

import graft.grid.SyntheticGrid.PixelFn

/** Seeded input generators. Every value is integer arithmetic on
  * (x, y, t, seed), so the checks recompute any result on the driver. */
object Gen {

  /** 32-bit avalanche hash of a pixel-date and a seed, non-negative. */
  def mix(x: Int, y: Int, t: Int, seed: Int): Int = {
    var h = seed * 0x9E3779B1 ^ x * 0x85EBCA6B ^ y * 0xC2B2AE35 ^ t * 0x27D4EB2F
    h ^= h >>> 15; h *= 0x2C1B3C6D
    h ^= h >>> 12; h *= 0x297A2D39
    h ^= h >>> 15
    h & 0x7fffffff
  }

  val NdviNodata: Double = -3000.0
  val QaNodata: Double = 65535.0
  /** QA words: land (bit 11) with usefulness 0..3 is clear (confidence
    * >= 0.75); the cloud bit (10) gates confidence to 0. */
  val QaClear: Int = 0x0800
  val QaCloud: Int = 0x0C00
  def qaIsClear(q: Double): Boolean = (q.toInt & 0x0400) == 0

  /** NDVI-like int16 field: a blocky spatial base, a seasonal term, a
    * hashed +-250 noise and about 4% nodata. */
  final case class TileNdvi(seed: Int) extends PixelFn {
    def apply(x: Int, y: Int, t: Int): Double = {
      val h = mix(x, y, t, seed)
      if (h % 25 == 0) NdviNodata
      else (2000 + ((x / 16) * 37 + (y / 16) * 53 + seed) % 5000 +
        300 * (t % 4) + (h >>> 8) % 501 - 250).toDouble
    }
  }

  /** QA field: about 20% of pixel-dates cloudy. */
  final case class TileQa(seed: Int) extends PixelFn {
    def apply(x: Int, y: Int, t: Int): Double = {
      val h = mix(x, y, t, seed ^ 0x5bd1e995)
      if (h % 5 == 0) QaCloud.toDouble else (QaClear | (((h >>> 4) % 4) << 2)).toDouble
    }
  }

  /** A planted clearing: a half-open pixel rectangle. */
  final case class Rect(x0: Int, y0: Int, x1: Int, y1: Int) {
    def contains(x: Int, y: Int): Boolean = x >= x0 && x < x1 && y >= y0 && y < y1
    def px: Long = (x1 - x0).toLong * (y1 - y0)
  }
  val ClearingValue = 1000.0

  /** Stable-vegetation NDVI (6000 +- 200, 3% nodata) with planted
    * clearings: on date t every pixel of `clearings(t)` reads 1000 and
    * is never nodata, so a CUSUM with slack + threshold of 2000 alarms
    * inside the planted rectangles and nowhere else. */
  final case class RefreshNdvi(seed: Int, clearings: Map[Int, Seq[Rect]]) extends PixelFn {
    def apply(x: Int, y: Int, t: Int): Double = {
      val rs = clearings.getOrElse(t, Nil)
      if (rs.exists(_.contains(x, y))) ClearingValue
      else {
        val h = mix(x, y, t, seed)
        if (h % 33 == 0) NdviNodata else (6000 + (h >>> 8) % 401 - 200).toDouble
      }
    }
  }
}
