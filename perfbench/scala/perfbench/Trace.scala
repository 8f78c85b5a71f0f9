package perfbench

import scala.collection.mutable

import org.apache.spark.{GraftMetricsBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.PointInPolygonExpr

/** One timed call into a layer. `op` is shared by every span of one
  * query or cycle; `parent` is 0 for a root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** Counters attributed to one span: task metrics from listener events,
  * plan facts from each action's executed plan. */
final class SpanStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var maxSkew = 0.0
  var actions = 0L
  var exchanges = 0L
  var fallbacks = 0L
  /** Point-in-polygon tests (rows into the node that evaluates them x
    * tests per row) and hits (rows the explode above them emits). */
  var pipTests = 0L
  var pipHits = 0L
  /** Rows emitted by explode (Generate) nodes. */
  var generateRows = 0L
  /** Parquet rows (= chunks) and files read, keyed by store name. */
  val scanRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val scanFiles = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "cpu_ns" -> cpuNs, "run_ms" -> runMs,
    "wait_ms" -> waitMs, "gc_ms" -> gcMs, "shuffle_write_b" -> shuffleWriteB,
    "shuffle_read_b" -> shuffleReadB, "spill_b" -> spillB,
    "input_b" -> inputB, "max_skew" -> maxSkew, "actions" -> actions,
    "exchanges" -> exchanges, "codegen_fallbacks" -> fallbacks,
    "pip_tests" -> pipTests, "pip_hits" -> pipHits, "generate_rows" -> generateRows,
    "scan_rows" -> scanRows.toMap, "scan_files" -> scanFiles.toMap)
}

/** Reads Spark from outside: stage/task metrics arrive as listener
  * events tagged with the span id the harness set as a local property;
  * executed plans arrive through a QueryExecutionListener and are
  * charged to the span that is open when they are delivered (the tracer
  * drains the listener bus at every span boundary). */
final class SparkObserver extends SparkListener with QueryExecutionListener {
  import SparkObserver.Key

  @volatile var current: Int = 0
  val stats = mutable.Map.empty[Int, SpanStats]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def of(span: Int): SpanStats = synchronized {
    stats.getOrElseUpdate(span, new SpanStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(s => stageSpan(s) = span)
    of(span).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = of(stageSpan.getOrElse(e.stageId, 0))
    val info = e.taskInfo
    s.tasks += 1
    stageSubmit.get(e.stageId).foreach(t0 => s.waitMs += math.max(0L, info.launchTime - t0))
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTaskMs.remove(id).foreach { ms =>
      if (ms.size >= 2) {
        val sorted = ms.sorted
        val med = sorted(sorted.size / 2).toDouble
        val s = of(stageSpan.getOrElse(id, 0))
        if (med > 0) s.maxSkew = math.max(s.maxSkew, sorted.last / med)
      }
    }
    stageSubmit.remove(id)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    import SparkObserver.{below, inputRows, outputRows}
    val nodes = SparkObserver.nodes(qe.executedPlan)
    synchronized {
      val s = of(current)
      s.actions += 1
      nodes.foreach {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => s.exchanges += 1
        case scan: FileSourceScanExec =>
          val store = SparkObserver.storeName(scan)
          s.scanRows(store) += outputRows(scan)
          s.scanFiles(store) += scan.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case g: GenerateExec => s.generateRows += outputRows(g)
        case _ =>
      }
      s.fallbacks += nodes.map(_.expressions.map(_.collect {
        case f: CodegenFallback => f }.size).sum).sum
      // a node evaluating point-in-polygon tests runs each of them on
      // every row it receives; the explode at or above it emits one row
      // per hit
      def pip(p: SparkPlan, explode: Option[SparkPlan]): Unit = {
        val gen = p match { case g: GenerateExec => Some(g); case _ => explode }
        val tests = p.expressions.map(_.collect { case e: PointInPolygonExpr => e }.size).sum
        if (tests > 0) {
          s.pipTests += tests * inputRows(p)
          s.pipHits += gen.map(outputRows).getOrElse(0L)
        }
        below(p).foreach(pip(_, if (tests > 0) None else gen))
      }
      pip(qe.executedPlan, None)
    }
  }
}

object SparkObserver {
  val Key = "perfbench.span"

  /** Every node of a plan, descending into AQE's final plan, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (below(p) ++ p.subqueries).flatMap(nodes)

  /** The nodes directly below `p`, through AQE's final plan and query
    * stages. */
  def below(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  def outputRows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Rows a single-input node receives: the output count of the nearest
    * node below it that counts rows (projections and codegen wrappers
    * do not). */
  def inputRows(p: SparkPlan): Long = below(p) match {
    case Seq(c) => if (c.metrics.contains("numOutputRows")) outputRows(c) else inputRows(c)
    case _ => 0L
  }

  /** Store name of a scan: the directory above the store's `jdata`
    * (or the last path element for any other table). */
  def storeName(scan: FileSourceScanExec): String = {
    val parts = scan.relation.location.rootPaths.headOption
      .map(_.toString.split('/').filter(_.nonEmpty).toSeq).getOrElse(Seq("?"))
    val i = parts.lastIndexOf("jdata")
    if (i > 0) parts(i - 1) else parts.last
  }
}

/** Span recorder. Until `start`, `span` only runs its body: an
  * untraced run registers no listener and drains nothing. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val observer = new SparkObserver
  private var enabled = false
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op = 0

  def start(): Unit = if (!enabled) {
    sc.addSparkListener(observer)
    spark.listenerManager.register(observer)
    enabled = true
  }

  def stop(): Unit = if (enabled) {
    flush()
    sc.removeSparkListener(observer)
    spark.listenerManager.unregister(observer)
    enabled = false
  }

  private def flush(): Unit = GraftMetricsBridge.flush(sc)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      flush()
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      observer.current = id
      sc.setLocalProperty(SparkObserver.Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        flush()
        stack = stack.tail
        observer.current = parent
        sc.setLocalProperty(SparkObserver.Key, if (parent == 0) null else parent.toString)
        spans += Span(id, name, parent, op, t0, t1)
      }
    }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "stats" -> observer.stats.get(s.id).map(_.toMap).orNull)
  }
}
