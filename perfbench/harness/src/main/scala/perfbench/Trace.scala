package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer, or a Spark job. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
                      startNs: Long, var endNs: Long)

/** Spans and per-op layer counters, recorded only while `on`.
  *
  * Harness spans wrap the benchmark's calls into each module's public
  * functions; Spark jobs become child spans of whichever harness span was
  * open when they started. Job, stage and task figures come from a
  * SparkListener, planning phases and plan metrics from a
  * QueryExecutionListener. Both are attached only while tracing is on, so
  * untraced ops run exactly as in an untraced run. Everything stays in
  * memory until the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val OpKey = "perfbench.op"
  // epoch-ms listener timestamps -> this JVM's nanoTime scale
  private val epochToNano = System.currentTimeMillis() * 1000000L - System.nanoTime()

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var op = -1
  private var on = false

  private final class OpAcc {
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, startNs, endNs
    var stages, tasks = 0L
    var taskRunMs, taskCpuNs, shufR, shufW, inRows, spill, snapDisk = 0L
  }
  private val accs = new ConcurrentHashMap[Int, OpAcc]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  @volatile private var busOp = -1

  private def acc(o: Int): OpAcc = accs.computeIfAbsent(o, _ => new OpAcc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val o = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .map(_.toInt).getOrElse(-1)
      jobStart.put(e.jobId, (o, e.time * 1000000L - epochToNano))
      e.stageIds.foreach(s => stageOp.put(s, o))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (o, s) =>
        acc(o).jobs += ((e.jobId, s, e.time * 1000000L - epochToNano))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      acc(stageOp.getOrDefault(e.stageInfo.stageId, -1)).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageOp.getOrDefault(e.stageId, -1))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.inRows += m.inputMetrics.recordsRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.useDisk) acc(busOp).snapDisk += b.diskSize
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = qes.add(qe)
  }

  /** Switch tracing on or off between ops. */
  def setOn(v: Boolean): Unit = if (v != on) {
    on = v
    if (v) { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
    else { sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener) }
  }
  def isOn: Boolean = on

  /** Time `body` as a span named `name`, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(op, nextId, stack.headOption.fold(-1)(_.id), name, System.nanoTime(), 0L)
      nextId += 1
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail; spans += s }
    }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  // gc ms, codegen compile ns and compiled classes when the op began
  private var mark = (0L, 0L, 0L)

  /** Start attributing everything to op `id` (called untimed). */
  def begin(id: Int): Unit = {
    op = id
    if (on) {
      org.apache.spark.perfbench.Bus.drain(sc)
      qes.clear()
      accs.remove(-1)
      busOp = id
      sc.setLocalProperty(OpKey, id.toString)
      mark = (gcMs, CodeGenerator.compileTime,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }
  }

  /** Close op `id` spanning [t0, t1] and return its layer readings
    * (empty when untraced). Called untimed, after the timed interval. */
  def end(id: Int, t0: Long, t1: Long, scanned: Boolean): Map[String, Double] = {
    if (!on) return Map.empty
    val gc = gcMs - mark._1
    val cgNs = CodeGenerator.compileTime - mark._2
    val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - mark._3
    sc.setLocalProperty(OpKey, null)
    org.apache.spark.perfbench.Bus.drain(sc)
    busOp = -1
    val a = Option(accs.remove(id)).getOrElse(new OpAcc)
    val mine = spans.filter(_.op == id)
    def inside(name: String, t: Long) =
      mine.exists(s => s.name == name && s.startNs <= t && t <= s.endNs)
    a.jobs.foreach { case (jid, s, e) =>
      val parent = mine.filter(sp => sp.startNs <= s && s <= sp.endNs)
        .sortBy(sp => sp.endNs - sp.startNs).headOption.fold(-1)(_.id)
      spans += Span(id, nextId, parent, "spark.job", s, e)
      nextId += 1
    }
    val jobMs = union(a.jobs.map { case (_, s, e) =>
      (math.max(s, t0), math.min(e, t1)) }.toSeq) / 1e6
    val wallMs = (t1 - t0) / 1e6
    val phases = qes.asScala.toSeq.map(_.tracker.phases)
    def phase(p: String) = phases.flatMap(_.get(p)).map(_.durationMs).sum.toDouble
    val scanRows = if (scanned) qes.asScala.toSeq.map(q => scanOutput(q.executedPlan)).sum else 0L
    qes.clear()
    val byName = mine.groupBy(_.name)
    byName.map { case (n, ss) => s"$n.span_ms" -> ss.map(s => (s.endNs - s.startNs) / 1e6).sum } ++
    byName.map { case (n, ss) => s"$n.spans" -> ss.size.toDouble } ++ Map(
      "tables.open_jobs" -> a.jobs.count(j => inside("tables.open", j._2)).toDouble,
      "queries.build_jobs" -> a.jobs.count(j => inside("queries.build", j._2)).toDouble,
      "catalyst.queries" -> phases.size.toDouble,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "plans.codegen_classes" -> cgN.toDouble,
      "plans.codegen_ms" -> cgNs / 1e6,
      "spark.jobs" -> a.jobs.size.toDouble,
      "spark.stages" -> a.stages.toDouble,
      "spark.tasks" -> a.tasks.toDouble,
      "spark.job_ms" -> jobMs,
      "spark.task_run_ms" -> a.taskRunMs.toDouble,
      "spark.task_cpu_ms" -> a.taskCpuNs / 1e6,
      "spark.shuffle_read_bytes" -> a.shufR.toDouble,
      "spark.shuffle_write_bytes" -> a.shufW.toDouble,
      "spark.input_rows" -> a.inRows.toDouble,
      "spark.spill_bytes" -> a.spill.toDouble,
      "graftshim.snapshot_disk_bytes" -> a.snapDisk.toDouble,
      "driver.gap_ms" -> (wallMs - jobMs),
      "jvm.gc_ms" -> gc.toDouble,
      "spatial.rows_scanned" -> scanRows.toDouble)
  }

  /** Rows the file scans of an executed plan emitted (its SQL metrics). */
  private def scanOutput(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanOutput(a.executedPlan)
    case q: QueryStageExec => scanOutput(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numOutputRows").fold(0L)(_.value)
    case other => (other.children ++ other.subqueries).map(scanOutput).sum
  }

  /** Length of the union of [start, end] intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
