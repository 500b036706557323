package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by the harness spans and the listener events: epoch
  * milliseconds with sub-millisecond resolution from nanoTime. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval of the run. Parents are assigned afterwards by time
  * containment (report.build_tree), so a span records only what it is. */
final case class Span(kind: String, name: String, start: Double, end: Double)

/** The traced run's listeners: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (planning phases and scan time of each action)
  * and a StreamingQueryListener (per-batch progress). Everything is kept in
  * memory and written out once at the end of the run. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[Json.Obj]()
  val stages = new ConcurrentLinkedQueue[Json.Obj]()
  val tasks = new ConcurrentLinkedQueue[Array[Double]]()
  val actions = new ConcurrentLinkedQueue[Json.Obj]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def remove(spark: SparkSession): Unit = {
    Tracer.drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (s != null) jobs.add(Json.Obj(
      "id" -> e.jobId, "start" -> s.time.toDouble, "end" -> e.time.toDouble,
      "stages" -> s.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(Json.Obj(
      "id" -> i.stageId, "attempt" -> i.attemptNumber(),
      "start" -> i.submissionTime.getOrElse(0L).toDouble,
      "end" -> i.completionTime.getOrElse(0L).toDouble,
      "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
      "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.add(Array(e.stageId.toDouble, e.taskInfo.launchTime.toDouble,
      e.taskInfo.finishTime.toDouble,
      if (m == null) 0.0 else m.peakExecutionMemory.toDouble))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    actions.add(Json.Obj("end" -> Clock.ms, "plan_ms" -> planMs.toDouble,
      "scan_ms" -> Tracer.scanMs(qe.executedPlan)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** Sum of the "scan time" SQLMetric over every file scan of a plan,
    * descending through adaptive plans and their query stages. */
  def scanMs(plan: SparkPlan): Double = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(plan).collect { case s: FileSourceScanExec => s.metrics.get("scanTime").map(_.value).getOrElse(0L) }
      .sum.toDouble
  }

  /** Listener events are delivered asynchronously; wait until the bus is
    * empty so each event lands before the run's data is written out.
    * `listenerBus` is private[spark] in source but public in bytecode. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.getClass.getMethods.find(_.getName == "listenerBus").map(_.invoke(sc)).foreach { bus =>
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    }
  }

  /** Codegen so far in this JVM: (compilations, compile time in ns). Both
    * are exact cumulative counters: the compilation histogram's count and
    * CodeGenerator's own nanosecond compile-time accumulator. */
  def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def progressJson(p: StreamingQueryProgress, round: Int): Json.Obj = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toSeq
    val st = p.stateOperators.headOption
    val custom = st.map(_.customMetrics.asScala.map { case (k, v) =>
      k -> v.doubleValue }.toSeq).getOrElse(Nil)
    Json.Obj(
      "round" -> round, "batch" -> p.batchId,
      "duration" -> Json.Obj(d: _*),
      "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
      "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
      "state_custom" -> Json.Obj(custom: _*))
  }
}
