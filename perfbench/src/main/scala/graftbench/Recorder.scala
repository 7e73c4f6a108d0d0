package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.BenchSql
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One Spark job: its interval (epoch ms), issuing call site and the
  * summed metrics of its tasks.
  */
final class JobRec(val id: Int, val start: Long, val site: String, val module: String) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One SQL action (a `collect`, a `write`, …): its interval and the path it
  * wrote, if any.
  */
final case class ActionRec(name: String, start: Long, end: Long, path: Option[String])

/** Records every job, stage, task and SQL action while registered. */
final class Recorder extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byJob = mutable.HashMap.empty[Int, JobRec]
  private val byStage = mutable.HashMap.empty[Int, JobRec]
  private val sqlStart = mutable.HashMap.empty[Long, Long]
  private val sqlSite = mutable.HashMap.empty[Long, String]
  private val actions = mutable.ArrayBuffer.empty[ActionRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the final stage carries the action's call site: "<op> at <File>.scala:<line>";
    // jobs Spark submits from its own threads (broadcasts, AQE stages) take
    // the call site of the SQL action they serve
    val stageSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val site =
      if (Modules.of(stageSite) != "spark") stageSite
      else Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSite.get(id.toLong)).getOrElse(stageSite)
    val j = new JobRec(e.jobId, e.time, site, Modules.of(site))
    jobs += j
    byJob(e.jobId) = j
    e.stageIds.foreach(byStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.outBytes += m.outputMetrics.bytesWritten
        j.outRecords += m.outputMetrics.recordsWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStart(s.executionId) = s.time
      sqlSite(s.executionId) = s.description
    }
    case x: SparkListenerSQLExecutionEnd =>
      val path = BenchSql.queryExecution(x).flatMap(_.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      })
      val name = BenchSql.actionName(x).getOrElse("")
      synchronized {
        sqlStart.remove(x.executionId).foreach(s => actions += ActionRec(name, s, x.time, path))
      }
    case _ => ()
  }

  /** Jobs submitted in `[from, to)`. */
  def jobsIn(from: Long, to: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.start >= from && j.start < to).toList
  }

  /** SQL actions that started in `[from, to)`. */
  def actionsIn(from: Long, to: Long): Seq[ActionRec] = synchronized {
    actions.filter(a => a.start >= from && a.start < to).toList
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.toList)
  def allActions: Seq[ActionRec] = synchronized(actions.toList)
}

/** Maps a call site to the program module (source directory) it is in. */
object Modules {
  private val packages = Seq("vcf", "queries", "operators", "streaming", "plans", "functions")
  private val cache = mutable.HashMap.empty[String, String]
  private val Site = """.* at ([A-Za-z0-9_$]+)\.scala:\d+""".r

  /** "bench" for this harness, a source directory for the engine, "spark"
    * for anything else. Files are matched to the class they are named after.
    */
  def of(site: String): String = site match {
    case Site(file) => synchronized(cache.getOrElseUpdate(file, lookup(file)))
    case _ => "spark"
  }

  private def exists(cls: String): Boolean =
    try { Class.forName(cls, false, getClass.getClassLoader); true }
    catch { case _: ClassNotFoundException => false }

  private def lookup(file: String): String =
    if (exists(s"graftbench.$file$$") || exists(s"graftbench.$file")) "bench"
    else packages.find(p => exists(s"graft.$p.$file$$") || exists(s"graft.$p.$file"))
      .orElse(if (exists(s"graft.$file$$") || exists(s"graft.$file")) Some("graft") else None)
      .getOrElse("spark")
}
