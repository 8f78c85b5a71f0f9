package graft.grid

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.ops.{IndexVersions, Similarity, TextSearch}
import graft.sources.Ingest

/** The store layout every cube writer must leave (frac_num-sorted data
  * files), the overwrite policy each writer must apply whatever the
  * session's `partitionOverwriteMode`, and the data-then-header commit
  * order. The grid has 64 chunks per time chunk, so one time chunk
  * spans several range partitions and a file's row order is visible.
  */
class ChunkWriterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"

  def header(nDates: Int, name: String = "cw"): GridHeader = GridHeader(
    name = name, width = 64, height = 64,
    fracWidth = 8, fracHeight = 8, fracNDates = 2,
    dtype = "int16", srs = "wgs84",
    geot = Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
    timestampsMs = (0 until nDates).map(i => 1000L + i), nodata = -1.0)

  def value(x: Column, y: Column, t: Column): Column =
    ((x * 7 + y * 3 + t * 11) % 50).cast("double")

  /** Pixels of dates [tFrom, tTo) with t LOCAL to tFrom (append input). */
  def newPixels(tFrom: Int, tTo: Int): DataFrame =
    SyntheticGrid.pixelDf(spark, header(tTo - tFrom),
      (x, y, t) => value(x, y, t + lit(tFrom)))

  def build(nDates: Int, prefix: String): String = {
    val root = TestSpark.tmpDir(prefix)
    val h = header(nDates)
    FractionStore.write(spark, h, FractionStore.fromPixels(spark, h,
      SyntheticGrid.pixelDf(spark, h, value)), root)
    root
  }

  def storePixels(root: String): Set[(Int, Int, Int, Int)] =
    FractionStore.pixels(GridHeader.load(spark, root),
      FractionStore.fractions(spark, root), maskNodata = false)
      .as[(Int, Int, Int, Int)].collect().toSet

  /** Parquet file names per partition directory of `dir`. */
  def partitionFiles(dir: String): Map[String, Set[String]] =
    Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .map(d => d.getName ->
        d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .toMap

  def timeChunks(root: String): Set[String] =
    partitionFiles(FractionStore.dataPath(root)).keySet

  val identityKernel: (FracRow, Seq[Array[Double]]) => Array[Double] =
    (_, in) => in.head

  /** Runs `call` and checks it left the session conf as it found it. */
  def confKept[T](call: => T): T = {
    val before = spark.conf.getOption(OverwriteMode)
    val out = call
    assert(spark.conf.getOption(OverwriteMode) == before,
      "a writer changed the session's partitionOverwriteMode")
    out
  }

  /** Runs `call` and checks every partition of `dirs` outside `touched`
    * still holds exactly the files it held before. */
  def keepsUntouched(dirs: Seq[String], touched: Set[String])(
      call: => Unit): Unit = {
    val before = dirs.map(partitionFiles)
    confKept(call)
    dirs.zip(before).foreach { case (d, was) =>
      val kept = was.keySet -- touched
      assert(kept.nonEmpty, s"$d has no untouched partition")
      val now = partitionFiles(d)
      kept.foreach(p =>
        assert(now.get(p) == was.get(p), s"$d/$p was rewritten or lost"))
    }
  }

  def withOverwriteMode(mode: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(OverwriteMode)
    spark.conf.set(OverwriteMode, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(OverwriteMode, v)
      case None => spark.conf.unset(OverwriteMode)
    }
  }

  test("every writer leaves frac_num-sorted data files") {
    // each data file read alone: its frac_num column in file order
    def assertSorted(root: String, step: String): Unit = {
      val files = FractionStore.fractions(spark, root).inputFiles
      assert(files.nonEmpty, step)
      val unsorted = files.filterNot { f =>
        val ks = spark.read.parquet(f).select("frac_num").as[Int].collect()
        ks.sameElements(ks.sorted)
      }
      assert(unsorted.isEmpty,
        s"$step: ${unsorted.length} of ${files.length} files not " +
          "frac_num-sorted")
    }
    val root = build(3, "cw_order")
    assertSorted(root, "write")
    val h = IncrementalAppend.appendDates(spark, root,
      Seq(1003L, 1004L), newPixels(3, 5))
    assertSorted(root, "appendDates")

    val out = TestSpark.tmpDir("cw_order_pipe")
    val derived = h.copy(name = "derived")
    new GridPipeline(Seq((h, root)), derived, out).run(spark)(identityKernel)
    assertSorted(out, "GridPipeline")
    new GridPipeline(Seq((h, root)), derived, out, forceAll = true)
      .run(spark)(identityKernel)
    assertSorted(out, "GridPipeline forceAll")

    val outs = Seq("a", "b").map(n =>
      (h.copy(name = n), TestSpark.tmpDir(s"cw_order_multi_$n")))
    new GridMultiPipeline(Seq((h, root)), outs)
      .run(spark)((r, in) => Seq(in.head, in.head))
    outs.foreach { case (_, o) => assertSorted(o, "GridMultiPipeline") }

    Ingest.reloadChunk(spark, root, fracNum = 9, timeChunk = 1,
      SyntheticGrid.pixelDf(spark, h, (_, _, _) => lit(7.0)))
    assertSorted(root, "reloadChunk")
    FractionStore.compact(spark, root)
    assertSorted(root, "compact")
  }

  test("writers apply their own overwrite policy whatever the session " +
    "conf, and leave the conf as they found it") {
    // whole-store overwrites replace every time chunk...
    withOverwriteMode("dynamic") {
      val root = build(4, "cw_dyn_write")
      val h2 = header(2)
      confKept(FractionStore.write(spark, h2, FractionStore.fromPixels(
        spark, h2, SyntheticGrid.pixelDf(spark, h2, value)), root))
      assert(timeChunks(root) == Set("time_chunk=0"))
      assert(GridHeader.load(spark, root) == h2)

      val in4 = build(4, "cw_dyn_in4")
      val out = TestSpark.tmpDir("cw_dyn_pipe")
      new GridPipeline(Seq((header(4), in4)), header(4), out)
        .run(spark)(identityKernel)
      assert(timeChunks(out) == Set("time_chunk=0", "time_chunk=1"))
      confKept(new GridPipeline(Seq((h2, root)), h2, out, forceAll = true)
        .run(spark)(identityKernel))
      assert(timeChunks(out) == Set("time_chunk=0"))
      assert(storePixels(out) == storePixels(root))
    }
    // ...and the scoped rewrites keep every partition they do not touch
    withOverwriteMode("static") {
      val root = build(5, "cw_static")
      val data = FractionStore.dataPath(root)
      // 5 dates in chunks of 2: the append rewrites only the ragged tail
      keepsUntouched(Seq(data), Set("time_chunk=2")) {
        IncrementalAppend.appendDates(spark, root, Seq(1005L),
          newPixels(5, 6))
      }
      keepsUntouched(Seq(data), Set("time_chunk=0")) {
        FractionStore.compact(spark, root, timeChunks = Some(Seq(0)))
      }
      keepsUntouched(Seq(data), Set("time_chunk=1")) {
        Ingest.reloadChunk(spark, root, fracNum = 3, timeChunk = 1,
          SyntheticGrid.pixelDf(spark, header(6), (_, _, _) => lit(7.0)))
      }

      val idx = TestSpark.tmpDir("cw_static_text")
      val docs = (0 until 20).map(i => (i.toLong,
        (0 until 12).map(j => s"w${(i * 31 + j * 7) % 97}").mkString(" ")))
      TextSearch.buildInvertedIndex(docs.take(10).toDF("doc_id", "text"),
        idx, nBuckets = 8)
      TextSearch.appendToInvertedIndex(docs.drop(10).toDF("doc_id", "text"),
        idx, nBuckets = 8)
      val idxRoot = IndexVersions.resolve(idx)
      keepsUntouched(Seq(s"$idxRoot/postings", s"$idxRoot/dfs"),
        Set("term_bucket=0", "term_bucket=1")) {
        TextSearch.compactInvertedIndex(spark, idx, Some(Seq(0, 1)))
      }

      def vec(i: Int): Array[Float] = {
        val r = new scala.util.Random(i * 7919 + 13)
        Array.fill(16)(r.nextGaussian().toFloat)
      }
      val corpus = (0 until 40).map(i => (i.toLong, vec(i)))
        .toDF("vec_id", "embedding")
      val ivf = TestSpark.tmpDir("cw_static_ivf")
      Similarity.buildIvfIndex(corpus, ivf, nCentroids = 4,
        centers = Some(Similarity.lowestIdCenters(corpus, 4)))
      Similarity.appendToIvfIndex((40 until 60).map(i => (i.toLong, vec(i)))
        .toDF("vec_id", "embedding"), ivf)
      keepsUntouched(Seq(s"${IndexVersions.resolve(ivf)}/assignments"),
        Set("cell=0")) {
        Similarity.compactIvfCells(spark, ivf, Some(Seq(0)))
      }
    }
  }

  test("a failed write leaves no header; a failed append leaves the store " +
    "as it was and a retry converges") {
    val h = header(4)
    val fresh = TestSpark.tmpDir("cw_fail_write")
    val poisoned = FractionStore.fromPixels(spark, h,
      SyntheticGrid.pixelDf(spark, h, value))
      .withColumn("data", when(col("frac_num") === 17,
        raise_error(lit("poisoned chunk"))).otherwise(col("data")))
    intercept[Exception](FractionStore.write(spark, h, poisoned, fresh))
    assert(!new java.io.File(s"$fresh/header.json").exists,
      "header committed for a store whose data write failed")

    val root = build(3, "cw_fail_append")
    val data = FractionStore.dataPath(root)
    def files = partitionFiles(data)
    val (h0, files0) = (GridHeader.load(spark, root), files)
    val bad = newPixels(3, 5).withColumn("value",
      when(col("t") === 1 && col("x") === 5, raise_error(lit("bad pixel")))
        .otherwise(col("value")))
    intercept[Exception](IncrementalAppend.appendDates(spark, root,
      Seq(1003L, 1004L), bad))
    assert(GridHeader.load(spark, root) == h0)
    assert(files == files0, "a failed append changed the data files")

    val h1 = IncrementalAppend.appendDates(spark, root, Seq(1003L, 1004L),
      newPixels(3, 5))
    assert(h1 == header(5))
    assert(storePixels(root) == storePixels(build(5, "cw_fail_full")))
  }
}
