package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into the program, plus what Spark's
  * own listeners report, for one traced run. Everything is kept in
  * memory and written out when the run ends. A disabled trace (the
  * measured, untraced run) registers no listener and records nothing.
  *
  * Times are epoch milliseconds, so spans line up with listener events.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val taskRecords = new ConcurrentHashMap[Int, Array[Long]]() // stage -> (max, sum)
  private var installed = false

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val execs = new ConcurrentLinkedQueue[Exec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  /** Time `body` as a span named `name`, child of the innermost open
    * span on this thread.
    */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = nowMs()
      try body
      finally {
        open.set(open.get.tail)
        spans.add(Span(id, parent, name, t0, nowMs()))
      }
    }

  /** Register the three listeners once per session (repeat calls are
    * no-ops). Called only when tracing is enabled.
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (enabled && !installed) {
      spark.sparkContext.addSparkListener(SparkEvents)
      spark.listenerManager.register(SqlEvents)
      spark.streams.addListener(StreamEvents)
      installed = true
    }
  }

  private object SparkEvents extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) jobs.add(Job(s.toDouble, e.time.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val n = e.taskMetrics.outputMetrics.recordsWritten
        val acc = taskRecords.computeIfAbsent(e.stageId, _ => Array(0L, 0L))
        acc.synchronized { acc(0) = math.max(acc(0), n); acc(1) += n }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val rec = Option(taskRecords.remove(i.stageId)).getOrElse(Array(0L, 0L))
      if (m != null) stages.add(Stage(i.numTasks, i.submissionTime.getOrElse(0L).toDouble,
        m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        m.inputMetrics.bytesRead.toDouble, rec(0).toDouble, rec(1).toDouble))
    }
  }

  private object SqlEvents extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      execs.add(Exec(outputPath(qe), durationNs / 1e6, planMs(qe), nowMs()))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object StreamEvents extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Spark-level cost of the operations whose spans are `ops`
    * (start, end): totals divided by the number of operations. Jobs and
    * stages belong to an operation when they start inside its window;
    * `driver.self_ms_per_op` is window time not covered by any job.
    */
  def layerPerOp(ops: Seq[(Double, Double)]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    def inOps(t: Double) = ops.exists { case (s, e) => t >= s && t <= e }
    val js = jobs.asScala.toSeq.filter(j => inOps(j.start))
    val ss = stages.asScala.toSeq.filter(s => inOps(s.submitted))
    val xs = execs.asScala.toSeq.filter(x => inOps(x.end - x.durMs / 2))
    val busy = ops.map { case (s, e) => covered(js.map(j => (j.start, j.end)), s, e) }.sum
    val wall = ops.map { case (s, e) => e - s }.sum
    Map(
      "spark.jobs_per_op" -> js.size / n,
      "spark.stages_per_op" -> ss.size / n,
      "spark.tasks_per_stage" -> (if (ss.isEmpty) 0.0 else ss.map(_.tasks).sum.toDouble / ss.size),
      "spark.task_cpu_ms_per_op" -> ss.map(_.cpuMs).sum / n,
      "spark.gc_ms_per_op" -> ss.map(_.gcMs).sum / n,
      "spark.shuffle_write_mb_per_op" -> ss.map(_.shuffleBytes).sum / 1e6 / n,
      "spark.spill_mb_per_op" -> ss.map(_.spillBytes).sum / 1e6 / n,
      "spark.job_ms_per_op" -> busy / n,
      "driver.self_ms_per_op" -> (wall - busy) / n,
      "sql.executions_per_op" -> xs.size / n,
      "sql.plan_ms_per_op" -> xs.map(_.planMs).sum / n)
  }

  def spansJson: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.start).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end, "self_ms" -> selfMs(s))
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.asScala.toSeq.filter(_.parent == s.id).map(k => (k.start, k.end))
    (s.end - s.start) - covered(kids, s.start, s.end)
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)
  final case class Job(start: Double, end: Double)
  final case class Stage(tasks: Int, submitted: Double, cpuMs: Double, gcMs: Double,
      shuffleBytes: Double, spillBytes: Double, inputBytes: Double,
      maxTaskRecords: Double, recordsWritten: Double)
  final case class Exec(outputPath: Option[String], durMs: Double, planMs: Double, end: Double)

  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs(): Double = epochOffsetMs + System.nanoTime() / 1e6

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (curS, curE) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def outputPath(qe: QueryExecution): Option[String] =
    Seq(qe.logical, qe.analyzed).iterator.flatMap(p => scala.util.Try(p.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }).toOption.flatten).nextOption()

  def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum
}
