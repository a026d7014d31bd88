package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** An operation as the benchmark's client saw it: one registry query, or
  * one HTTP request. Times are epoch milliseconds with sub-ms precision
  * ([[Clock.nowMs]]); `due` is when an open-loop schedule wanted it sent. */
final case class Op(kind: String, name: String, phase: String,
    due: Double, start: Double, end: Double, ok: Boolean,
    group: String = "", bytesOut: Long = 0L, dispatched: Double = Double.NaN)

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory trace of everything Spark did while attached: SQL planning
  * phases (QueryExecutionListener), jobs, stages, tasks and block updates
  * (SparkListener). Nesting is workload → operation → SQL execution → job
  * → stage: jobs carry the job group the benchmark sets per batch query,
  * and everything else is parented to an operation by time containment
  * (the serving trace runs one client, so containment is unambiguous). */
object Trace {
  private final case class Plan(start: Double, end: Double, ms: Double)
  private final case class Job(id: Int, group: String, start: Double,
      var end: Double, stages: Seq[Int])
  private final case class Task(stage: Int, launch: Double, finish: Double,
      gcMs: Double, resultBytes: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, inBytes: Long, inRecords: Long,
      outBytes: Long, failed: Boolean)

  /** Spark-side cost inside one operation: planning ms, job wall ms (the
    * union of its jobs' intervals), job count, and its tasks' input and
    * output bytes and input records. */
  final case class OpCost(planMs: Double, jobMs: Double, jobs: Int,
      inBytes: Long, inRecords: Long, outBytes: Long)
}

final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private val plans = mutable.ArrayBuffer[Plan]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageSubmit = mutable.HashMap[Int, Double]()
  private val stageDone = mutable.HashMap[Int, Double]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val rddBlocks = mutable.HashMap[String, Long]()
  private val pinnedRdds = mutable.HashSet[Int]()
  private var pinnedNow = 0L
  private var pinnedPeak = 0L

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  /** Waits for the listener queue to drain, then stops listening. */
  def detach(): Unit = {
    org.apache.spark.perfbenchsync.ListenerDrain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  // ---------- listener callbacks ----------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += Plan(ph.map(_.startTimeMs).min.toDouble, ph.map(_.endTimeMs).max.toDouble,
        ph.map(_.durationMs).sum.toDouble)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time.toDouble, Double.NaN, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    e.stageInfo.completionTime.foreach(t => stageDone(e.stageInfo.stageId) = t.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += (if (m == null)
      Task(e.stageId, info.launchTime.toDouble, info.finishTime.toDouble,
        0, 0, 0, 0, 0, 0, 0, 0, info.failed)
    else Task(e.stageId, info.launchTime.toDouble, info.finishTime.toDouble,
      m.jvmGCTime.toDouble, m.resultSize,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, info.failed))
  }

  /** Pins: RDD blocks put into the block manager (persist, local
    * checkpoints). Tracks distinct pinned RDDs and the peak of their
    * stored bytes. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val u = e.blockUpdatedInfo
    u.blockId match {
      case RDDBlockId(rdd, _) =>
        val key = u.blockId.name
        val bytes = if (u.storageLevel.isValid) u.memSize + u.diskSize else 0L
        pinnedNow += bytes - rddBlocks.getOrElse(key, 0L)
        if (bytes > 0) { rddBlocks(key) = bytes; pinnedRdds += rdd }
        else rddBlocks.remove(key)
        pinnedPeak = math.max(pinnedPeak, pinnedNow)
      case _ =>
    }
  }

  // ---------- aggregation ----------

  private def within(s: Double, e: Double, op: Op): Boolean =
    s >= op.start - 1 && e <= op.end + 1

  /** The [[OpCost]] of one operation. Jobs match by job group when the
    * operation has one, else by time containment. */
  def costOf(op: Op): OpCost = synchronized {
    val js = jobs.values.filter(j =>
      if (op.group.nonEmpty) j.group == op.group
      else !j.end.isNaN && within(j.start, j.end, op)).toSeq
    val stageSet = js.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageSet(t.stage))
    val pl = plans.filter(p => within(p.start, p.end, op)).map(_.ms).sum
    OpCost(pl, unionMs(js.map(j => (j.start, if (j.end.isNaN) j.start else j.end))),
      js.size, ts.map(_.inBytes).sum, ts.map(_.inRecords).sum, ts.map(_.outBytes).sum)
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** The `spark.*` per-layer metrics over the jobs of `ops`, normalised
    * per operation. */
  def sparkLayer(ops: Seq[Op], cpus: Int): Map[String, Double] = synchronized {
    val n = math.max(ops.size, 1).toDouble
    val groups = ops.map(_.group).filter(_.nonEmpty).toSet
    val js = jobs.values.filter(j => groups(j.group) ||
      (!j.end.isNaN && ops.exists(o => o.group.isEmpty && within(j.start, j.end, o)))).toSeq
    val stageSet = js.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageSet(t.stage))
    val pl = plans.filter(p => ops.exists(o => within(p.start, p.end, o))).map(_.ms).sum
    val wallMs = unionMs(ops.map(o => (o.start, o.end)))
    val busyMs = ts.map(t => t.finish - t.launch).sum
    val waitMs = ts.map(t => math.max(0.0, t.launch - stageSubmit.getOrElse(t.stage, t.launch))).sum
    Map(
      "spark.plan_ms" -> pl / n,
      "spark.jobs" -> js.size / n,
      "spark.stages" -> stageSet.count(stageDone.contains) / n,
      "spark.tasks" -> ts.size / n,
      "spark.task_busy_s" -> busyMs / 1000.0 / n,
      "spark.sched_wait_s" -> waitMs / 1000.0 / n,
      "spark.core_util" -> (if (wallMs > 0) busyMs / (cpus * wallMs) else 0.0),
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum / n,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum / n,
      "spark.spill_bytes" -> ts.map(_.spill).sum / n,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / n,
      "spark.result_bytes" -> ts.map(_.resultBytes).sum / n,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble)
  }

  def pins: Map[String, Double] = synchronized {
    Map("operators.pins" -> pinnedRdds.size.toDouble,
      "operators.pinned_bytes_peak" -> pinnedPeak.toDouble)
  }
}
