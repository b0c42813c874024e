package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer accounting for the traced run.
  *
  * A [[SparkListener]] records jobs (with their stages' call sites) and
  * task metrics, a [[QueryExecutionListener]] records the analysis /
  * optimization / planning phase intervals of every executed query,
  * and the harness brackets the build call of each operation. After an
  * operation the listener bus is drained and its timeline is split into
  * DISJOINT slices, by priority: the build call, then time covered by a
  * running job (`exec`), then planning phases (`plan`); what is left is
  * the untimed remainder. The slices therefore add up to the
  * operation's wall time exactly, which [[Tracer.close]] re-checks.
  *
  * Nothing here touches the engine: the listeners are registered from
  * the benchmark and removed again for untraced operations.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val phases = new ConcurrentLinkedQueue[(Long, Long)]()

  private val ReadSite = "^(parquet|load|csv|json|orc|text|table) at .*".r

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val first = e.stageInfos.sortBy(_.stageId).headOption
      val read = first.exists(s => ReadSite.matches(s.name))
      jobs.add(Job(e.jobId, e.time, -1L, e.stageIds.toSet, read))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesDone.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.endTimeMs)))
  }

  private var opStart = 0L
  private val builds = mutable.ArrayBuffer.empty[(Long, Long)]
  private var serial = 0

  def open(label: String): Unit = {
    jobs.clear(); tasks.clear(); stagesDone.clear(); phases.clear()
    builds.clear()
    serial += 1
    spark.sparkContext.setJobGroup(s"perfbench-$serial", label,
      interruptOnCancel = false)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    opStart = System.currentTimeMillis()
  }

  def bracket[T](body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally builds += ((s, System.currentTimeMillis()))
  }

  /** Ends the operation: drains the bus, detaches, splits the timeline. */
  def close(): Layers = {
    val opEnd = System.currentTimeMillis()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.sparkContext.clearJobGroup()

    val wallMs = opEnd - opStart
    def clip(iv: Iterable[(Long, Long)]): Seq[(Long, Long)] =
      iv.map { case (a, b) => (math.max(a, opStart), math.min(b, opEnd)) }
        .filter { case (a, b) => b > a }.toSeq
    val opJobs = jobs.asScala.filter(j => j.start >= opStart && j.start <= opEnd).toSeq
    val jobIv = opJobs.map(j => (j.start, if (j.end < 0) opEnd else j.end))
    val b = Intervals.union(clip(builds))
    val j = Intervals.minus(Intervals.union(clip(jobIv)), b)
    val p = Intervals.minus(Intervals.minus(Intervals.union(clip(phases.asScala)), b), j)
    val buildMs = Intervals.length(b)
    val execMs = Intervals.length(j)
    val planMs = Intervals.length(p)

    val inBuild = opJobs.filter(job => b.exists { case (s, e) => job.start >= s && job.start <= e })
    val stageSet = opJobs.flatMap(_.stages).toSet
    val opTasks = tasks.asScala.filter(t => stageSet.contains(t.stage)).toSeq
    Layers(
      wallS = wallMs / 1e3, buildS = buildMs / 1e3, planS = planMs / 1e3,
      execS = execMs / 1e3,
      remainderS = (wallMs - buildMs - planMs - execMs) / 1e3,
      buildJobs = inBuild.size, buildReadJobs = inBuild.count(_.readCallSite),
      jobs = opJobs.size,
      stages = stagesDone.asScala.count(stageSet.contains),
      tasks = opTasks.size,
      taskRunS = opTasks.map(_.runMs).sum / 1e3,
      taskCpuS = opTasks.map(_.cpuNs).sum / 1e9,
      gcS = opTasks.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = opTasks.map(_.shuffleWrite).sum / 1048576.0,
      spillMb = opTasks.map(_.spill).sum / 1048576.0)
  }
}

object Tracer {
  private final case class Job(id: Int, start: Long, var end: Long,
      stages: Set[Int], readCallSite: Boolean)
  private final case class TaskRec(stage: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, spill: Long)
}

/** One operation's layer split (times in seconds). */
final case class Layers(
    wallS: Double, buildS: Double, planS: Double, execS: Double,
    remainderS: Double, buildJobs: Int, buildReadJobs: Int, jobs: Int,
    stages: Int, tasks: Int, taskRunS: Double, taskCpuS: Double,
    gcS: Double, shuffleWriteMb: Double, spillMb: Double) {
  /** The slices must cover the wall exactly and never overlap. */
  def reconciles: Boolean =
    remainderS >= -1e-9 &&
      math.abs(buildS + planS + execS + remainderS - wallS) < 1e-6
}

/** Sorted, disjoint half-open millisecond intervals. */
object Intervals {
  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  /** `a` minus `b`, both disjoint and sorted. */
  def minus(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    a.flatMap { case (s0, e0) =>
      b.foldLeft(List((s0, e0))) { (pieces, cut) =>
        pieces.flatMap { case (s, e) =>
          if (cut._2 <= s || cut._1 >= e) List((s, e))
          else List((s, cut._1), (cut._2, e)).filter { case (x, y) => y > x }
        }
      }
    }

  def length(iv: Seq[(Long, Long)]): Long = iv.map { case (s, e) => e - s }.sum
}
