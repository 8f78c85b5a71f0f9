package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.grid.{FracRow, FractionStore, GridFocal, GridHeader, GridKernels, GridLabeling,
  GridPipeline, IncrementalAppend, PayloadCodec, SyntheticGrid}
import graft.grid.SyntheticGrid.PixelFn

/** Write side of the cube: an operator ingests a two-band store from
  * pixel frames, then refreshes it one 16-day date at a time. Each cycle
  * appends the date to both bands, rebuilds the QA-masked derived grid,
  * smooths the new date with a 3x3 focal mean and labels the CUSUM alarm
  * patches of the new date. An episode of `Cycles` cycles grows the
  * ragged tail slab from two dates; the stores are then restored off
  * the clock and the next episode starts, so every run holds the same
  * fill levels.
  *
  * The derived grid is rebuilt with `forceAll = true`: a lazy resume
  * after an append recomputes no chunk, leaving the derived tail slab
  * stale (see perfbench/README.md). */
final class TileRefresh(seed: Int) extends Workload {
  import TileRefresh._

  private val qaFn = Gen.TileQa(seed)
  private val base: GridHeader = SyntheticGrid.modisTileHeader("ndvi", "int16", Gen.NdviNodata)
    .copy(width = Side, height = Side, fracWidth = Chunk, fracHeight = Chunk,
      fracNDates = SlabDates, timestampsMs = dateMs(0 until BaseDates))
  private val qaBase = base.copy(name = "qa", dtype = "uint16", nodata = Gen.QaNodata)
  private var dir: Path = _

  /** Clearings planted on each appended date of episode `e`. */
  private def clearings(e: Int): Map[Int, Seq[Gen.Rect]] =
    (BaseDates until BaseDates + Cycles).map { t =>
      val r = new scala.util.Random(seed * 31337L + e * 101 + t)
      t -> ClearingSizes.zipWithIndex.map { case ((w, h), k) =>
        // one rectangle per cell of a 3x2 layout: separate 4-connected
        // patches; sizes are fixed so every seed labels the same area
        val (cx, cy) = (k % 3, k / 3)
        val (cw, ch) = (Side / 3, Side / 2)
        val x0 = cx * cw + 2 + r.nextInt(cw - w - 4)
        val y0 = cy * ch + 2 + r.nextInt(ch - h - 4)
        Gen.Rect(x0, y0, x0 + w, y0 + h)
      }
    }.toMap

  private def ndviFn(e: Int): PixelFn = Gen.RefreshNdvi(seed, clearings(e))

  def sizes: Map[String, Any] = Map(
    "px" -> Side.toLong * Side, "base_dates" -> BaseDates, "cycle_dates" -> 1,
    "dates_per_episode" -> Cycles, "bands" -> 2, "derived_grids" -> 1,
    "chunk" -> s"${Chunk}x${Chunk}x$SlabDates")

  private def root(name: String): String = dir.resolve(name).toString
  private def pristine(name: String): Path = dir.resolve("pristine").resolve(name)

  def setup(spark: SparkSession, d: Path, tr: Tracer): Map[String, Any] = {
    dir = d
    val t0 = System.nanoTime()
    tr.span("FractionStore.write") {
      FractionStore.write(spark, base,
        FractionStore.fromPixels(spark, base, frame(spark, ndviFn(0), 0, BaseDates)), root("ndvi"))
      FractionStore.write(spark, qaBase,
        FractionStore.fromPixels(spark, qaBase, frame(spark, qaFn, 0, BaseDates)), root("qa"))
    }
    val ingestS = (System.nanoTime() - t0) / 1e9
    Bands.foreach(n => copyTree(dir.resolve(n), pristine(n)))
    Map("ingest_s" -> ingestS,
      "ingest_px_dates" -> 2L * Side * Side * BaseDates,
      "ingest_files" -> (Fs.files(dir.resolve("ndvi")) + Fs.files(dir.resolve("qa"))),
      "ingest_bytes" -> (Fs.bytes(dir.resolve("ndvi")) + Fs.bytes(dir.resolve("qa"))))
  }

  /** One full cycle of an episode no measured cycle uses, then back to
    * the ingested state. */
  def warmup(spark: SparkSession): Unit = {
    cycle(spark, new Tracer(spark), -Cycles)
    restore()
  }

  /** A pixel frame (x, y, t, value) over dates [t0, t0 + n) with t local. */
  private def frame(spark: SparkSession, fn: PixelFn, t0: Int, n: Int): DataFrame = {
    import spark.implicits._
    val side = Side
    spark.range(side.toLong * side * n).map { id =>
      val lt = (id % n).toInt
      val p = id / n
      val (x, y) = ((p % side).toInt, (p / side).toInt)
      (x, y, lt, fn(x, y, t0 + lt))
    }.toDF("x", "y", "t", "value")
  }

  private def rebuild(spark: SparkSession, nh: GridHeader, qh: GridHeader): Long =
    new GridPipeline(Seq((nh, root("ndvi")), (qh, root("qa"))),
      nh.copy(name = "derived"), root("derived"), forceAll = true).run(spark)(Kernel)

  /** Back to the ingested bands; the derived grid is rebuilt each cycle. */
  private def restore(): Unit = {
    Seq("ndvi", "qa", "derived").foreach(n => Main.deleteTree(dir.resolve(n)))
    Bands.foreach(n => copyTree(pristine(n), dir.resolve(n)))
  }

  /** Band-store files before the current cycle's append. */
  private var filesBefore: Set[Path] = Set.empty
  private def bandFiles(): Set[Path] = Bands.flatMap(n => Fs.parquetFiles(dir.resolve(n))).toSet

  override def prepare(spark: SparkSession, i: Int): Unit = {
    if (i % Cycles == 0) restore()
    filesBefore = bandFiles()
  }

  /** What the append wrote, read from the files it left: (files,
    * px-dates stored in them, chunk keys (x0, y0, t0) they hold). */
  private def appendWrites(spark: SparkSession): (Long, Long, Set[(Int, Int, Int)]) = {
    val written = (bandFiles() -- filesBefore).groupBy(p => Bands.find(n => p.startsWith(dir.resolve(n))).get)
    val rows = written.toSeq.flatMap { case (n, files) =>
      spark.read.option("basePath", FractionStore.dataPath(root(n))).parquet(files.map(_.toString).toSeq: _*)
        .select(col("x0"), col("y0"), col("t0"), col("w").cast("long") * col("h") * col("nd"))
        .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
    }
    (written.values.map(_.size.toLong).sum, rows.map(_._2).sum, rows.map(_._1).toSet)
  }

  override def boundary(i: Int): Boolean = i % Cycles == 0
  override def traceOps: Int = Cycles

  def op(spark: SparkSession, tr: Tracer, i: Int): Op = cycle(spark, tr, i)

  private def cycle(spark: SparkSession, tr: Tracer, i: Int): Op = {
    val (e, t) = (i / Cycles, BaseDates + i % Cycles)
    val fn = ndviFn(e)
    val ts = dateMs(t until t + 1)
    val (nh, qh) = tr.span("IncrementalAppend") {
      (IncrementalAppend.appendDates(spark, root("ndvi"), ts, frame(spark, fn, t, 1)),
        IncrementalAppend.appendDates(spark, root("qa"), ts, frame(spark, qaFn, t, 1)))
    }
    val chunks = tr.span("GridPipeline") { rebuild(spark, nh, qh) }
    val focal = tr.span("GridFocal") {
      GridFocal.focalStats(spark, nh, root("ndvi"), 1, t, t + 1)
        .agg(count(lit(1)), sum(col("n_valid")), sum(col("mean_nbr"))).head()
    }
    val slab0 = t / SlabDates * SlabDates
    val alarms = tr.span("GridKernels") {
      val a = GridKernels.cusumByPixel(spark, nh, root("ndvi"), 0, Side, 0, Side,
        slab0, t + 1, t, Slack, Threshold)
        .filter(col("alarm") === 1).select(col("x"), col("y")).persist()
      a.count()
      a
    }
    val patches = tr.span("GridLabeling") {
      GridLabeling.patchStats(GridLabeling.labelPatches(spark, nh, alarms))
        .select(col("n_px"), col("x_min"), col("x_max"), col("y_min"), col("y_max")).collect()
    }
    alarms.unpersist()
    Op("refresh_cycle", () => {
      val changed = Side.toLong * Side // pixels of the new date, per band
      val (files, pxDatesWritten, keysWritten) = appendWrites(spark)
      val facts = Map[String, Any](
        "chunks_computed" -> chunks,
        "chunks_changed" -> keysWritten.size,
        "append_new_px_dates" -> 2 * changed,
        "append_written_px_dates" -> pxDatesWritten,
        "append_files" -> files,
        "kernel_px_dates" -> changed * (t + 1 - slab0),
        "alarm_px" -> patches.map(_.getLong(0)).sum)
      // planted rectangles, less any pixel the CUSUM rule cannot alarm
      // (no valid training date, or earlier clearings in its baseline)
      val alarmsWant = Oracle.alarmPixels(fn, Side, Side, slab0, t, Slack, Threshold, Gen.NdviNodata)
      val rects = clearings(e)(t)
      val want = Oracle.patches(alarmsWant).toSet
      val got = patches.map(p => (p.getLong(0), p.getInt(1), p.getInt(2), p.getInt(3), p.getInt(4))).toSet
      val patchErr =
        if (!alarmsWant.forall { case (x, y) => rects.exists(_.contains(x, y)) })
          Some(s"fixture at t=$t: the CUSUM rule alarms outside the planted clearings")
        else if (got == want && got.size == patches.length) None
        else Some(s"alarm patches at t=$t: got ${got.toSeq.sorted} want ${want.toSeq.sorted}")
      val (fn0, fsum, fmean) = Oracle.focal(fn, Side, Side, t, Gen.NdviNodata)
      val focalErr =
        if (focal.getLong(0) == fn0 && focal.getLong(1) == fsum &&
          math.abs(focal.getDouble(2) - fmean) <= 1e-9 * math.max(1.0, math.abs(fmean))) None
        else Some(s"focal mean at t=$t: got $focal want ($fn0, $fsum, $fmean)")
      val derivedErr = checkDerived(spark, fn, nh)
      val err = Seq(patchErr, focalErr, derivedErr).flatten.reduceOption(_ + "; " + _)
      Outcome(2.0 * changed, facts, err) // new pixel-dates, both bands
    })
  }

  /** The derived store equals the QA mask applied to the inputs, chunk
    * by chunk, over every stored date. */
  private def checkDerived(spark: SparkSession, fn: PixelFn, nh: GridHeader): Option[String] = {
    val rows = FractionStore.fractions(spark, root("derived")).collect()
    val want = Side / Chunk * (Side / Chunk) * nh.chunkGrid.numTimeChunks
    val code = PayloadCodec.code("int16")
    val bad = rows.iterator.flatMap { r =>
      val (x0, y0, t0) = (r.getAs[Int]("x0"), r.getAs[Int]("y0"), r.getAs[Int]("t0"))
      val (w, h, nd) = (r.getAs[Int]("w"), r.getAs[Int]("h"), r.getAs[Int]("nd"))
      val data = PayloadCodec.decodeDouble(r.getAs[Array[Byte]]("data"), code)
      val expectNd = math.min(SlabDates, nh.nDates - t0)
      if (nd != expectNd) Some(s"chunk at ($x0,$y0,t$t0) holds $nd dates, inputs hold $expectNd")
      else (0 until h).iterator.flatMap { ly =>
        (0 until w).iterator.flatMap { lx =>
          (0 until nd).iterator.flatMap { lt =>
            val (x, y, t) = (x0 + lx, y0 + ly, t0 + lt)
            val v = fn(x, y, t)
            val exp = if (Gen.qaIsClear(qaFn(x, y, t)) && v != Gen.NdviNodata) v else Gen.NdviNodata
            val got = data((ly * w + lx) * nd + lt)
            if (got == exp) None else Some(s"derived ($x,$y,$t) = $got, want $exp")
          }
        }
      }.take(1)
    }.take(3).toSeq
    if (rows.length == want && bad.isEmpty) None
    else Some(s"derived grid: ${rows.length} chunks (want $want); ${bad.mkString("; ")}")
  }

  override def finish(spark: SparkSession): Map[String, Any] = {
    val h = GridHeader.load(spark, root("ndvi"))
    Map("store_bytes" -> (Fs.bytes(dir.resolve("ndvi")) + Fs.bytes(dir.resolve("qa"))),
      "stored_px_dates" -> 2L * Side * Side * h.nDates)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}

object TileRefresh {
  val Side = 400
  val Chunk = 100
  val SlabDates = 4
  val BaseDates = 6
  val Cycles = 2
  val Slack = 1000.0
  val Threshold = 1000.0
  val Bands: Seq[String] = Seq("ndvi", "qa")
  /** (width, height) of the clearings planted on each new date. */
  val ClearingSizes: Seq[(Int, Int)] = Seq((40, 12), (12, 40), (24, 24), (36, 16), (16, 36), (28, 20))

  def dateMs(ts: Range): Seq[Long] = ts.map(i => 951350400000L + i * 16L * 86400000L)

  /** Derived-grid kernel: NDVI where the QA word is clear, else nodata. */
  object Kernel extends ((FracRow, Seq[Array[Double]]) => Array[Double]) with Serializable {
    def apply(row: FracRow, in: Seq[Array[Double]]): Array[Double] = {
      val (v, q) = (in(0), in(1))
      Array.tabulate(v.length) { i =>
        if (Gen.qaIsClear(q(i)) && v(i) != Gen.NdviNodata) v(i) else Gen.NdviNodata
      }
    }
  }
}
