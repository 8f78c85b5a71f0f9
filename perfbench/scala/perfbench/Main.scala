package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation. `outcome` runs after the clock stops: it
  * checks the result and counts the work the operation covered. */
final case class Op(kind: String, outcome: () => Outcome)

/** Work done (pixel-dates, documents, ...), facts for the per-layer
  * table, and the check's verdict (None = correct). */
final case class Outcome(work: Double, facts: Map[String, Any], error: Option[String])

/** A closed-loop workload: one client, next operation after the last. */
trait Workload {
  /** Start from an empty `dir` and build the fixtures; returns facts to
    * record. `tr` traces the set-up of a traced run. */
  def setup(spark: SparkSession, dir: Path, tr: Tracer): Map[String, Any]
  /** Run each operation type once, untimed and unchecked, so code
    * generation and JIT compilation are done before the loop; a
    * workload whose users pay them on every operation does nothing. */
  def warmup(spark: SparkSession): Unit
  /** Untimed preparation before operation `i` (e.g. restoring a store). */
  def prepare(spark: SparkSession, i: Int): Unit = ()
  /** Operation `i`; the caller times this call. */
  def op(spark: SparkSession, tr: Tracer, i: Int): Op
  /** True when the loop may stop before operation `i`. */
  def boundary(i: Int): Boolean = true
  /** Operations in the traced pass and in its untraced twin: one of
    * every type, starting at a boundary. */
  def traceOps: Int = 1
  /** Facts measured after the loop (e.g. bytes on disk). */
  def finish(spark: SparkSession): Map[String, Any] = Map.empty
  /** Description of the inputs, for the result record. */
  def sizes: Map[String, Any]
}

/** Benchmark process: start a session, build the fixtures and warm up,
  * once, in a cold JVM (`setup_s` covers all of it, as a user would pay
  * it); run the closed loop until `--seconds` of operation time have
  * passed and the workload is at a boundary; write the raw record to
  * `--out`. With `--trace 1` the set-up is traced, and after the loop
  * two more rounds of `traceOps` operations run, untraced and then
  * traced. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    val cores = Runtime.getRuntime.availableProcessors()

    def newWorkload(name: String): Workload = name match {
      case "tile_query" => new TileQuery(seed)
      case "tile_refresh" => new TileRefresh(seed)
      case "corpus_curate" => new CorpusCurate(seed)
      case other => sys.error(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    if (workload == "all") {
      // class-data training run: load what every set-up and warm-up loads
      for (name <- Seq("tile_query", "tile_refresh", "corpus_curate")) {
        val wl = newWorkload(name)
        wl.setup(spark, work.resolve(name), new Tracer(spark))
        wl.warmup(spark)
      }
      spark.stop()
      return
    }
    val tracer = new Tracer(spark)
    if (trace) tracer.start()
    val wl = newWorkload(workload)
    val facts = wl.setup(spark, work.resolve("fixtures"), tracer)
    tracer.stop()
    val fixturesS = (System.nanoTime() - t0) / 1e9
    wl.warmup(spark)
    val setupS = (System.nanoTime() - t0) / 1e9

    val gc0 = gcMs()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

    def loop(tr: Tracer, limitS: Double, from: Int, maxOps: Int): Seq[Map[String, Any]] = {
      val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
      var timed = 0.0 // only operation time counts; checks run off the clock
      var i = from
      while (i - from < maxOps && !(timed >= limitS && wl.boundary(i))) {
        wl.prepare(spark, i)
        tr.op = i + 1
        val t0 = System.nanoTime()
        val res = try Right(tr.span("op") { wl.op(spark, tr, i) }) catch { case e: Throwable => Left(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        timed += dt
        val c0 = System.nanoTime()
        val (kind, out) = res match {
          case Right(op) =>
            (op.kind, try op.outcome() catch {
              case e: Throwable => Outcome(0.0, Map.empty,
                Some(s"${op.kind} check threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
            })
          case Left(e) => ("error", Outcome(0.0, Map.empty,
            Some(s"operation $i threw ${e.getClass.getSimpleName}: ${e.getMessage}")))
        }
        graft.ops.CacheRegistry.releaseAll()
        recs += Map("i" -> i, "kind" -> kind, "seconds" -> dt, "work" -> out.work,
          "ok" -> out.error.isEmpty, "error" -> out.error.orNull, "facts" -> out.facts,
          "check_s" -> (System.nanoTime() - c0) / 1e9)
        i += 1
      }
      recs.toSeq
    }

    val untraced = loop(tracer, seconds, 0, Int.MaxValue)
    // the traced pass and its untraced twin each run `traceOps` fresh
    // operations (repeating one would find its generated code cached),
    // back to back, so their time ratio is the tracing overhead
    val n = untraced.size
    val (retimed, traced) =
      if (!trace) (Nil, Nil)
      else {
        val plain = loop(tracer, Double.PositiveInfinity, n, wl.traceOps)
        tracer.start()
        try (plain, loop(tracer, Double.PositiveInfinity, n + wl.traceOps, wl.traceOps))
        finally tracer.stop()
      }
    val gcS = (gcMs() - gc0) / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val finish = wl.finish(spark)

    val conf = spark.conf.getAll.filter { case (k, _) =>
      !k.contains("app.id") && !k.contains("driver.host") && !k.contains("driver.port")
    }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "session_conf" -> conf,
      "setup_s" -> setupS, "fixtures_s" -> fixturesS, "setup_facts" -> facts,
      "sizes" -> wl.sizes,
      "ops" -> untraced, "retimed_ops" -> retimed, "traced_ops" -> traced, "finish" -> finish,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb),
      "spans" -> tracer.spansJson)
    Files.write(out, new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))
    spark.stop()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => Files.delete(f))
      finally s.close()
    }
}
