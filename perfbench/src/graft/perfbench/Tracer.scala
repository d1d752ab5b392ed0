package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerDrain, ListenerPost}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Marks the start of a span of benchmark work ("round/job", a query
  * name). Posted on the listener bus, so every later event is charged to
  * it.
  */
case class TagEvent(tag: String) extends SparkListenerEvent {
  override def logEvent: Boolean = false
}

/** One Dataset action as the QueryExecutionListener saw it. */
case class Action(tag: String, func: String, seconds: Double,
    planSeconds: Double, writesState: Boolean, writes: Boolean,
    scannedFiles: Long, scanRows: Seq[(String, Long)]) {
  /** Rows the action's file scans read under paths containing `part`. */
  def rowsScannedUnder(part: String): Long =
    scanRows.collect { case (root, n) if root.contains(part) => n }.sum
}

/** Task and job totals charged to one tag. */
final class SparkTotals {
  var jobs = 0L
  /** Jobs run outside any SQL execution, and those among them that hash
    * published files for the `_checksums` sidecar (the rest infer parquet
    * schemas for `Transaction.read`).
    */
  var rddJobs = 0L
  var rddJobSeconds = 0.0
  var checksumJobs = 0L
  var checksumSeconds = 0.0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var stages = 0L
}

/** The traced run's listeners: a SparkListener for jobs, stages and task
  * metrics and a QueryExecutionListener for Dataset actions, both on
  * Spark's shared listener queue, so both see the benchmark's
  * [[TagEvent]] markers in order with the work they label.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile private var current = ""
  private val jobStartMs = mutable.Map.empty[Int, (Long, Boolean)]
  private val stageTag = mutable.Map.empty[Int, String]
  val totals = mutable.Map.empty[String, SparkTotals]
  val actions = mutable.ArrayBuffer.empty[Action]

  private def totalsOf(tag: String) = totals.getOrElseUpdate(tag, new SparkTotals)

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def tag(t: String): Unit = ListenerPost(spark.sparkContext, TagEvent(t))

  /** Blocks until every event posted so far has been delivered. */
  def drain(): Unit = ListenerDrain(spark.sparkContext)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case TagEvent(t) => current = t
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = totalsOf(current)
    t.jobs += 1
    e.stageIds.foreach(stageTag(_) = current)
    val sqlExec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    if (sqlExec.isEmpty) {
      // the sidecar hashing is a collect() called from Transaction.publish
      val checksum = e.stageInfos.exists(_.name.startsWith("collect at Transaction.scala"))
      t.rddJobs += 1
      if (checksum) t.checksumJobs += 1
      jobStartMs(e.jobId) = (e.time, checksum)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach { case (start, checksum) =>
      val t = totalsOf(current)
      t.rddJobSeconds += (e.time - start) / 1000.0
      if (checksum) t.checksumSeconds += (e.time - start) / 1000.0
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      totalsOf(stageTag.getOrElse(e.stageInfo.stageId, current)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totalsOf(stageTag.getOrElse(e.stageId, current))
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(func: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    val planNs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs * 1000000L).sum
    val plan = qe.executedPlan
    val nodes = Tracer.flatten(plan)
    val written = nodes.collect {
      case w: DataWritingCommandExec => w.cmd
    }.collect { case i: InsertIntoHadoopFsRelationCommand => i.query.output.map(_.name) }
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    val files = scans.map(metric(_, "numFiles")).sum
    val rowsByRoot = scans.map(s =>
      s.relation.location.rootPaths.map(_.toString).mkString(",") ->
        metric(s, "numOutputRows"))
    actions += Action(current, func, durationNs / 1e9, planNs / 1e9,
      writesState = written.exists(_.contains("job_name")),
      writes = written.nonEmpty || func == "command" || func == "save",
      scannedFiles = files, scanRows = rowsByRoot)
  }

  override def onFailure(func: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def reset(): Unit = synchronized {
    totals.clear(); actions.clear(); stageTag.clear(); jobStartMs.clear()
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries.
    */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case s: QueryStageExec => flatten(s.plan)
    case other =>
      other +: (other.children.flatMap(flatten) ++
        other.subqueries.flatMap(flatten))
  }
}
