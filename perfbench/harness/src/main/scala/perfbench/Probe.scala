package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one traced call (one job group). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var planningMs = 0L
  /** stage id -> task durations (ms), and stage id -> stage wall time (ms) */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val stageWall = mutable.Map[Int, Long]()
  val plans = mutable.ArrayBuffer[QueryExecution]()

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedDelayMs += o.schedDelayMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; resultBytes += o.resultBytes; planningMs += o.planningMs
    stageTasks ++= o.stageTasks
    stageWall ++= o.stageWall
    plans ++= o.plans
  }

  /** Slowest / median task time in the longest stage. */
  def maxTaskSkew: Double =
    if (stageWall.isEmpty) 1.0
    else {
      val longest = stageWall.maxBy(_._2)._1
      val ts = stageTasks.getOrElse(longest, mutable.ArrayBuffer.empty[Long]).sorted
      if (ts.isEmpty) 1.0 else ts.last.toDouble / math.max(ts(ts.size / 2), 1L).toDouble
    }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "scheduler_delay_s" -> schedDelayMs / 1e3, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "result_bytes" -> resultBytes, "planning_s" -> planningMs / 1e3,
    "max_task_skew" -> maxTaskSkew)
}

/** A SparkListener plus a QueryExecutionListener that book engine counters
  * to the job group of the call that caused them. Query-execution events
  * carry no job group, so they are booked to `current`; callers drain the
  * listener bus before changing it. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val groups = mutable.Map[String, GroupStats]()
  private val stageGroup = mutable.Map[Int, String]()
  @volatile var current: String = "none"

  def stats(group: String): GroupStats = synchronized(groups.getOrElseUpdate(group, new GroupStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stats(stageGroup.getOrElse(info.stageId, "none"))
    s.stages += 1
    for (a <- info.submissionTime; b <- info.completionTime) s.stageWall(info.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, "none"))
    val m = e.taskMetrics
    val i = e.taskInfo
    s.tasks += 1
    s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += i.duration
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.schedDelayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.resultBytes += m.resultSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val s = stats(current)
    s.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    s.plans += qe
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Plans {
  /** Every distinct node of an executed plan, looking through adaptive
    * plans, query stages, command results and subqueries. */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = if (seen.add(p)) {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  /** File scans whose root paths lie under `dir`. */
  def scansOf(root: SparkPlan, dir: String): Seq[FileSourceScanExec] = {
    val canon = new java.io.File(dir).getCanonicalPath
    nodes(root).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(p =>
            new java.io.File(p.toUri.getPath).getCanonicalPath.startsWith(canon)) => s
    }
  }

  /** Value of the first SQL metric called `name` anywhere in the plan. */
  def metric(root: SparkPlan, name: String): Option[Long] =
    nodes(root).iterator.flatMap(_.metrics.get(name)).map(_.value).toSeq.headOption
}
