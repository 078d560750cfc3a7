package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for the traced run, built only on Spark's public
  * listener interfaces. Every job, stage, task and SQL execution is
  * attributed through the job group the harness sets around each timed
  * call. Nothing waits on a timer: the callbacks run on the listener
  * bus, and the harness reads the records only after `SparkContext.stop`
  * has drained that bus, so every started job and SQL execution has been
  * matched with its end event by then. */
final class Trace extends SparkListener with QueryExecutionListener {

  final class Job(val id: Int, val group: String, val sqlId: Long, val start: Long) {
    var end: Long = -1L
  }
  /** `nested`: started inside another SQL execution, as the reads and
    * writes of a streaming `foreachBatch` run inside their batch's. */
  final class Sql(val group: String, val start: Long, val isWrite: Boolean, val nested: Boolean) {
    var end: Long = -1L
  }
  final class Tasks {
    var n = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var written = 0L
  }
  final class Plan {
    var analyzeNs = 0L
    var optimizeNs = 0L
    var physicalNs = 0L
    var ops = 0L
    var codegenOps = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val sqls = mutable.LinkedHashMap.empty[Long, Sql]
  private val stageJob = mutable.Map.empty[Int, Int]
  val stagesByGroup = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val tasksByJob = mutable.Map.empty[Int, Tasks]
  /** Plan phases and codegen coverage per SQL execution id. */
  val plans = mutable.Map.empty[Long, Plan]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = prop(e.properties, "spark.jobGroup.id").getOrElse("")
    val sqlId = prop(e.properties, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, group, sqlId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(j => stagesByGroup(j.group) += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = tasksByJob.getOrElseUpdate(jobId, new Tasks)
      t.n += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.written += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val write = s.physicalPlanDescription.contains("InsertIntoHadoopFsRelation")
      sqls(s.executionId) = new Sql(s.jobGroupId.getOrElse(""), s.time, write,
        s.rootExecutionId.exists(_ != s.executionId))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqls.get(s.executionId).foreach(_.end = s.time)
      pending.foreach(p => plans(s.executionId) = p)
      pending = None
    }
    case _ =>
  }

  /** The session's execution-listener bus sits on the same listener
    * queue as this listener and was registered before it, so for each
    * SQL execution end it calls [[onSuccess]] first and then this
    * listener's `onOtherEvent`, on the same thread: the plan recorded
    * in between belongs to that execution. */
  private var pending: Option[Plan] = None

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val p = new Plan
    val phases = qe.tracker.phases
    def ns(k: String) = phases.get(k).map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).getOrElse(0L)
    p.analyzeNs = ns("analysis")
    p.optimizeNs = ns("optimization")
    p.physicalNs = ns("planning")
    val (ops, covered) = Trace.codegenCoverage(qe.executedPlan)
    p.ops = ops
    p.codegenOps = covered
    synchronized { pending = Some(p) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object Trace {
  /** (physical operators, operators inside a WholeStageCodegen stage),
    * looking through adaptive wrappers and query stages. */
  def codegenCoverage(plan: SparkPlan): (Long, Long) = {
    var ops = 0L
    var covered = 0L
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case q: QueryStageExec => walk(q.plan, inCodegen = false)
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case other =>
        ops += 1
        if (inCodegen) covered += 1
        other.children.foreach(walk(_, inCodegen))
        other.subqueries.foreach(walk(_, inCodegen = false))
    }
    walk(plan, inCodegen = false)
    (ops, covered)
  }
}
