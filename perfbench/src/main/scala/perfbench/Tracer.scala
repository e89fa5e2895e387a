package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusFlush
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans plus Spark's public listeners, for one traced unit.
  *
  * A span is (id, name, parent, start, end), times in seconds from the
  * unit's start. Every Spark job is attributed to the innermost span
  * open when it was submitted (through a thread-local job property) and
  * carries its call site (`callSite.short`): the SQL execution's, which
  * names the user-code action even for jobs that adaptive execution
  * submits from its own threads, else the result stage's name.
  * Stage and task metrics come from a [[SparkListener]]; Catalyst
  * planning time from a [[QueryExecutionListener]]'s `tracker.phases`;
  * Janino compile time from `CodeGenerator.compileTime`.
  *
  * Listeners are registered in [[begin]] and removed in [[end]], so
  * untraced units run with none attached.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener {
  import Tracer._
  private val sc = spark.sparkContext
  private val SpanProp = "perfbench.span"

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Int] = Nil
  private var originNs = 0L
  private var compile0 = 0L
  private val recording = new AtomicBoolean(false)

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val planMs = new ConcurrentLinkedQueue[Long]()
  private val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      if (recording.get) planMs.add(Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum)
  }

  def begin(): Unit = {
    spans.clear(); stack = Nil
    jobs.clear(); jobEnds.clear(); tasks.clear(); planMs.clear()
    execSites.clear()
    sc.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    compile0 = CodeGenerator.compileTime
    originNs = System.nanoTime()
    recording.set(true)
  }

  def span[T](name: String)(body: => T): T = {
    val s = SpanRec(spans.size, name, stack.headOption.getOrElse(-1),
      System.nanoTime() - originNs, -1L)
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime() - originNs
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording.get) {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.add(JobRec(e.jobId, span, site, exec, e.stageIds, e.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if recording.get =>
      execSites.put(x.executionId.toString, x.description)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (recording.get) jobEnds.add((e.jobId, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recording.get && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
    }

  /** Drain the bus, detach, and summarize the unit that started at
    * `startMs` (epoch) and took `wallNs`.
    */
  def end(startMs: Long, wallNs: Long): Map[String, Any] = {
    BusFlush(spark)
    recording.set(false)
    spark.listenerManager.unregister(queryListener)
    sc.removeSparkListener(this)
    val compileNs = CodeGenerator.compileTime - compile0
    val wallMs = wallNs / 1e6
    val ts = tasks.asScala.toVector
    // wall time with at least one task running, from the union of
    // task intervals clipped to the unit
    val busyMs = ts.map(t => (math.max(t.launchMs, startMs), t.finishMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
        if (a >= hi) (acc + (b - a), b)
        else if (b > hi) (acc + (b - hi), b)
        else (acc, hi)
      }._1
    val ends = jobEnds.asScala.toMap
    val stageAgg = ts.groupBy(_.stage).map { case (st, xs) =>
      st -> Map[String, Any]("tasks" -> xs.size,
        "task_run_s" -> xs.map(_.runMs).sum / 1e3,
        "task_cpu_s" -> xs.map(_.cpuNs).sum / 1e9,
        "gc_s" -> xs.map(_.gcMs).sum / 1e3,
        "shuffle_write_bytes" -> xs.map(_.shuffleWrite).sum,
        "spill_bytes" -> xs.map(_.spill).sum,
        "input_records" -> xs.map(_.inRecords).sum,
        "input_bytes" -> xs.map(_.inBytes).sum)
    }
    Map(
      "wall_s" -> wallNs / 1e9,
      "cores" -> cores,
      "busy_s" -> busyMs / 1e3,
      "codegen_compile_ms" -> compileNs / 1e6,
      "plan_ms" -> planMs.asScala.sum,
      "spans" -> spans.toVector.map(s => Map[String, Any]("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9)),
      "jobs" -> jobs.asScala.toVector.sortBy(_.id).map(j => Map[String, Any](
        "id" -> j.id, "span" -> j.span, "execution" -> j.execId,
        "call_site" -> Option(execSites.get(j.execId)).getOrElse(j.callSite),
        "start_s" -> (j.startMs - startMs) / 1e3,
        "end_s" -> ends.get(j.id).map(t => (t - startMs) / 1e3).getOrElse(wallMs / 1e3),
        "stages" -> j.stages.filter(stageAgg.contains).map(st => stageAgg(st) + ("id" -> st))))
    )
  }
}

object Tracer {
  private final case class SpanRec(id: Int, name: String, parent: Int,
      startNs: Long, var endNs: Long)
  private final case class JobRec(id: Int, span: Int, callSite: String,
      execId: String, stages: Seq[Int], startMs: Long)
  private final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long,
      inRecords: Long, inBytes: Long)
}
